"""Silver streaming: typed parse + watermarked dedup + trailing views
(SURVEY ST2, ST3, ST5).

The reference's overlapping 20-minute polls produce duplicates by design
and its only defense is a stateless full-row ``distinct()`` per micro-batch
(/root/reference/sparktoELKstream.py:99) — duplicates across batches
survive, and AFAD's re-sent updates (isEventUpdate=true) become extra docs.
Engine semantics:

* :func:`parsed_stream` — the bronze→silver transform: the same
  ``operators.parse.silver_events`` call the batch pipeline makes.
* :func:`dedup_stream` — cross-batch exactly-once per eventID via
  ``dropDuplicatesWithinWatermark``: state is bounded by the watermark
  (sized to the reference's 7-day re-poll horizon, ST3) instead of growing
  forever.
* :func:`windowed_counts` — watermarked sliding-window aggregation (the
  streaming form of the flagship analytic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from egal_yet_another_earthquake_project_spark.operators.parse import (
    decode_envelope,
    parse_events_raw,
    quarantine_split,
    silver_events,
)

#: Watermark horizon for event dedup state — the weekly re-poll window
#: (egal-project-nifi.xml:4214-4216) bounds how late a duplicate can arrive.
DEDUP_WATERMARK = "7 days"


def parsed_stream(envelope: DataFrame) -> DataFrame:
    """Kafka envelope stream → typed, enriched silver stream. Pure column
    transforms — identical code path for batch backfill and streaming."""
    return silver_events(parse_events_raw(decode_envelope(envelope)))


def dedup_stream(
    silver: DataFrame,
    key: str = "eventID",
    event_time: str = "date",
    watermark: str = DEDUP_WATERMARK,
) -> DataFrame:
    """Exactly-one-row-per-event across micro-batches (ST2/ST5).

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes — bounded memory at any scale, unlike an unbounded
    ``dropDuplicates`` state store.

    It keeps the FIRST copy of each key. An AFAD update re-send
    (``isEventUpdate``, revised magnitude) that arrives in a later
    micro-batch is therefore dropped and ES keeps the stale document,
    while batch :func:`pipeline.bronze_to_silver` keeps the last update.
    Re-emitting updates would post one ``_id`` more than once, which the
    stream's exactly-once-per-``_id`` contract forbids; closing the gap
    needs an update-aware state operator.
    """
    return silver.withWatermark(event_time, watermark).dropDuplicatesWithinWatermark(
        [key]
    )


def windowed_counts(
    stream: DataFrame,
    event_time: str,
    group_col: str,
    window_length: str = "20 minutes",
    slide: str = "1 minute",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming flagship: per-(window, group) event counts with late-data
    tolerance — the principled version of the reference's re-poll-every-30s
    trailing-20-minute view (ST2)."""
    return (
        stream.withWatermark(event_time, watermark)
        .groupBy(F.window(event_time, window_length, slide), F.col(group_col))
        .agg(F.count("*").alias("n"))
    )


def session_windows(
    stream: DataFrame,
    event_time: str,
    key_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization: per-key sessions that close after ``gap``
    of inactivity (``F.session_window`` — dynamic-length windows the state
    store merges as events arrive; the watermark bounds open-session
    state). The batch twin is the lag-gap cumulative-sum formulation in
    ``workloads_ext.q_sessionize`` — same session boundaries, oracle-
    checked there; this is the live path."""
    return (
        stream.withWatermark(event_time, watermark)
        .groupBy(F.session_window(event_time, gap), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.min(event_time).alias("first_event"),
            F.max(event_time).alias("last_event"),
        )
    )


def trailing_view(df: DataFrame, event_time: str, horizon: str) -> DataFrame:
    """ST3 as a view, not a second topic: the trailing-``horizon`` slice.
    On an ingest-date-partitioned archive this prunes to the recent
    partitions only."""
    return df.filter(
        F.col(event_time) >= F.current_timestamp() - F.expr(f"INTERVAL {horizon}")
    )


def silver_with_quarantine(
    envelope: DataFrame,
    silver_path: str,
    quarantine_path: str,
    checkpoint: str,
):
    """Streaming silver write with a dead-letter branch: each micro-batch
    is split ONCE by :func:`operators.parse.quarantine_split` — valid
    documents continue through the typed/enriched silver transform to
    ``silver_path``, malformed payloads land at ``quarantine_path`` with
    the original bytes and a reason, replayable after a parser fix.

    ``foreachBatch`` is the right shape here (not two writeStreams): one
    source read and one checkpoint cover BOTH sinks, so a replayed batch
    re-enters the same split — neither side can run ahead of the other.

    Replay idempotence: foreachBatch is at-least-once (a crash after one
    sink's write but before the checkpoint commit replays the batch), so
    each sink write is keyed by ``_batch_id`` partition and uses DYNAMIC
    partition overwrite — the replay overwrites exactly its own
    partition instead of appending a duplicate, making the pair of sinks
    effectively exactly-once without cross-sink coordination. Readers
    see the ``_batch_id`` column; drop it if lineage isn't wanted.
    Returns the started query.
    """

    def _sink(batch: DataFrame, batch_id: int) -> None:
        decoded = decode_envelope(batch)
        ok, bad = quarantine_split(decoded)
        for frame, path in (
            (silver_events(ok), silver_path),
            (bad, quarantine_path),
        ):
            (
                frame.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(path)
            )

    return (
        envelope.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )
