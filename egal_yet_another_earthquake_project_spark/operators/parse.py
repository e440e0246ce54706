"""Bronze → silver parsing: Kafka envelope / raw JSON → typed event rows.

Replaces the reference's decode-UDF → from_json → flatten → RDD-tuple-cast
chain (/root/reference/sparktoELKstream.py:77-126) with a single declarative
select: Catalyst sees every expression, so column pruning reaches the
scan, and there is no Python worker per row.
:func:`silver_events` is the single definition of the silver record; the
batch pipeline, the live stream and the quarantined stream all call it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from egal_yet_another_earthquake_project_spark import functions as EF
from egal_yet_another_earthquake_project_spark.operators.enrich import with_fault_line
from egal_yet_another_earthquake_project_spark.schemas import (
    EARTHQUAKE_RAW,
    EARTHQUAKE_TYPED,
)


def decode_envelope(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Kafka binary envelope → ``ascii_value`` string column (F3, P1).

    Reference: per-row UDF ``bytearray(x).decode('utf-8')``
    (/root/reference/sparktoELKstream.py:77-79); here a codegen'd cast.
    """
    return df.withColumn("ascii_value", EF.decode_utf8(value_col))


def parse_events_raw(df: DataFrame, json_col: str = "ascii_value") -> DataFrame:
    """JSON string → 15 raw string columns (F1, P2).

    Mirrors from_json + ``select("parsed.*")``
    (/root/reference/sparktoELKstream.py:97-98) with the explicit raw schema.
    An unparseable document still yields one all-null row.

    The parse sits in a one-element ``explode``, not a projection: Catalyst
    pushes a filter on a parsed field (the silver ``eventID`` check) below
    a projection by copying the ``from_json`` into the filter, so every
    document would be parsed twice. It cannot push that filter below a
    generator.
    """
    parsed = F.from_json(F.col(json_col), EARTHQUAKE_RAW)
    return df.select(F.explode(F.array(parsed)).alias("e")).select("e.*")


def _dbl(name: str) -> Column:
    # try_cast: malformed numerics → null, not a failed job (ANSI-safe).
    return F.expr(f"try_cast({name} AS double)").alias(name)


def typed_events(df: DataFrame) -> DataFrame:
    """Raw 15-string frame → 16 typed columns (P7, F2, F4, F5, F11).

    The reference does this as a 17-ary RDD tuple map with ``float()`` casts
    (/root/reference/sparktoELKstream.py:103-105) feeding an all-string
    schema (:107-125); here it is one typed select. The 17th silver column,
    ``fault_line``, is not a parse step: :func:`silver_events` adds it and
    puts the record in ``EARTHQUAKE_TYPED`` order.
    """
    return df.select(
        EF.minute_bucket(EF.null_safe_timestamp("date")).alias("date"),
        "country",
        "province",
        "district",
        "neighborhood",
        "location",
        _dbl("depth"),
        "type",
        _dbl("magnitude"),
        _dbl("longitude"),
        _dbl("latitude"),
        F.expr("try_cast(eventID AS long)").alias("eventID"),
        EF.point_location("latitude", "longitude").alias("pointLocation"),
        _dbl("rms"),
        F.expr("try_cast(isEventUpdate AS boolean)").alias("isEventUpdate"),
        F.try_to_timestamp("lastUpdateDate").alias("lastUpdateDate"),
    )


def silver_events(raw: DataFrame) -> DataFrame:
    """Raw 15-string frame (:func:`parse_events_raw` or the ok side of
    :func:`quarantine_split`) → the silver record: typed, fault-line
    enriched, rows without an ``eventID`` dropped, columns exactly as
    declared by ``EARTHQUAKE_TYPED``. A row whose id does not cast to a
    long has no upsertable identity, so it never reaches a sink.
    """
    typed = with_fault_line(typed_events(raw))
    return typed.filter(F.col("eventID").isNotNull()).select(
        *EARTHQUAKE_TYPED.fieldNames()
    )


def to_reference_view(df: DataFrame) -> DataFrame:
    """Cast the typed silver frame back to the reference's all-string schema
    (/root/reference/sparktoELKstream.py:107-125) for byte-parity tests and
    string-typed sinks. Engine-internal consumers never use this."""
    out = df
    for field in df.schema.fields:
        if field.dataType.simpleString() == "timestamp":
            out = out.withColumn(field.name, EF.minute_string(field.name))
        elif field.dataType.simpleString() != "string":
            out = out.withColumn(field.name, F.col(field.name).cast("string"))
    return out


def quarantine_split(
    df: DataFrame, json_col: str = "ascii_value"
) -> tuple[DataFrame, DataFrame]:
    """Route malformed payloads to a quarantine side instead of silently
    nulling them — the dead-letter discipline the reference's pipeline
    lacks entirely (a bad Kafka record there becomes an all-null row or
    a crashed executor).

    ``from_json`` is PERMISSIVE: an unparseable document yields an
    all-NULL struct — indistinguishable from a legitimately empty one.
    The split therefore parses with ``columnNameOfCorruptRecord``, which
    captures the offending text in a ``_corrupt`` field only when the
    parse failed; branching on it gives two frames off ONE shared parse
    subplan (one ``from_json`` per side's plan):

    * ok — the parsed ``EARTHQUAKE_RAW`` columns (same shape as
      :func:`parse_events_raw`);
    * quarantine — the ORIGINAL payload plus a ``reason`` column
      (``null_payload`` / ``unparseable_json`` / ``missing_event_id``), so
      the record can be replayed after a parser fix — data is never
      destroyed by a schema mismatch. A document that parses but whose
      ``eventID`` does not cast to a long goes here too: the silver
      record (:func:`silver_events`) drops it, so routing it to ok would
      lose it.

    Pure column logic — both sides stay co-partitioned with the input
    and the filters push into the shared scan. In streaming, drive both
    sides from one ``foreachBatch`` (write ok to silver, quarantine to
    the dead-letter path) so the batch is read once.
    """
    with_corrupt = T.StructType(
        [*EARTHQUAKE_RAW.fields, T.StructField("_corrupt", T.StringType(), True)]
    )
    # The parse sits in a one-element ``explode`` for the reason given in
    # :func:`parse_events_raw`: the ok/bad filters on ``_reason`` would
    # otherwise each be pushed below the projection with their own copy
    # of the ``from_json``.
    parsed_doc = F.from_json(
        F.col(json_col),
        with_corrupt,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    parsed = df.select(F.col(json_col), F.explode(F.array(parsed_doc)).alias("_e"))
    null_in = F.col(json_col).isNull() | (F.trim(F.col(json_col)) == "")
    parsed = parsed.withColumn(
        "_reason",
        F.when(null_in, F.lit("null_payload"))
        .when(
            F.col("_e").isNull() | F.col("_e._corrupt").isNotNull(),
            F.lit("unparseable_json"),
        )
        .when(
            F.expr("try_cast(_e.eventID AS long)").isNull(),
            F.lit("missing_event_id"),
        ),
    )
    ok = parsed.filter(F.col("_reason").isNull()).select("_e.*").drop("_corrupt")
    bad = parsed.filter(F.col("_reason").isNotNull()).select(
        F.col(json_col).alias("payload"), F.col("_reason").alias("reason")
    )
    return ok, bad
