"""Typed schemas for every entity the engine processes.

The reference is stringly-typed end-to-end (all 15 raw fields declared
``StringType`` at ``/root/reference/sparktoELKstream.py:80-96``, and even the
enriched 17-column schema at ``:107-125`` is all-string). This engine parses
to real types at the silver layer; ``to_reference_view`` (operators/parse.py)
provides the string-cast view for byte-parity with reference output.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Raw AFAD event JSON — field names and order per the reference's declared
# parse schema (/root/reference/sparktoELKstream.py:80-96). All strings on
# the wire.
EARTHQUAKE_RAW = T.StructType(
    [
        T.StructField("date", T.StringType(), True),
        T.StructField("rms", T.StringType(), True),
        T.StructField("eventID", T.StringType(), True),
        T.StructField("location", T.StringType(), True),
        T.StructField("latitude", T.StringType(), True),
        T.StructField("longitude", T.StringType(), True),
        T.StructField("depth", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("magnitude", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("province", T.StringType(), True),
        T.StructField("district", T.StringType(), True),
        T.StructField("neighborhood", T.StringType(), True),
        T.StructField("isEventUpdate", T.StringType(), True),
        T.StructField("lastUpdateDate", T.StringType(), True),
    ]
)

# Silver: typed + enriched 17-column record — the corrected version of the
# reference's all-string enriched schema (/root/reference/sparktoELKstream.py:107-125).
# Column order preserved for parity.
EARTHQUAKE_TYPED = T.StructType(
    [
        T.StructField("date", T.TimestampType(), True),  # minute grain
        T.StructField("country", T.StringType(), True),
        T.StructField("province", T.StringType(), True),
        T.StructField("fault_line", T.StringType(), True),
        T.StructField("district", T.StringType(), True),
        T.StructField("neighborhood", T.StringType(), True),
        T.StructField("location", T.StringType(), True),
        T.StructField("depth", T.DoubleType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("magnitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("eventID", T.LongType(), True),
        T.StructField("pointLocation", T.StringType(), True),  # "lat,lon"
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("isEventUpdate", T.BooleanType(), True),
        T.StructField("lastUpdateDate", T.TimestampType(), True),
    ]
)

# Electric-field time series — one float sample per minute, decoded from
# packed float32 by the producer (/root/reference/electricraw.py:64-87).
# 0.0 is the producer's gap sentinel (NaN fill at :76-86).
ELECTRIC_TICK = T.StructType(
    [
        T.StructField("time", T.TimestampType(), False),
        T.StructField("data", T.DoubleType(), True),
    ]
)

# Kafka source envelope — what the four bronze archival jobs read and land
# verbatim (/root/reference/eQRawToParquet.py:15-32).
KAFKA_ENVELOPE = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("timestampType", T.IntegerType(), True),
    ]
)

# Driver test tables (/root/testdata/sf*/, see TESTDATA.md). Explicit schemas
# let streaming file sources and strict readers skip inference.
EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("props", T.StringType(), True),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)
