"""Declared query workload — one entry per implemented operator (SURVEY §2).

Each query is a ``(spark, sf_dir) -> DataFrame`` callable paired with an
ANSI-SQL oracle string (DuckDB dialect-compatible) in ``ORACLES``. The
driver hash-compares both sides at sf0.01, order-insensitive, columns
matched by name.

Determinism rules applied throughout (both sides identically):
* every floating aggregate is rounded (sums routed through DECIMAL where
  exactness matters — double summation is order-dependent across partition
  counts, decimal is not);
* timestamps are emitted as formatted strings (Spark session TZ is pinned
  UTC; DuckDB is UTC-naive);
* top-k queries carry a total order (explicit tiebreaker columns).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from egal_yet_another_earthquake_project_spark import functions as EF
from egal_yet_another_earthquake_project_spark.operators import (
    analytics,
    dedup,
    joins,
    stats,
)
from egal_yet_another_earthquake_project_spark.sources.files import (
    load_testdata,
    read_table,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

#: Spark/DuckDB-identical microsecond timestamp formats.
_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"

# The reference enumerates three named regions and filters magnitude >= 4
# (/root/reference/sparktoELKstream.py:241-245); the stand-in events table
# plays that shape with event_type as the region and value as magnitude.
_REGION_TYPES = ("click", "error", "view")
_MAG_THRESHOLD = 4.0


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Reference-parity analytics (SURVEY §2.2, §2.4, §2.6, §2.7)
# --------------------------------------------------------------------------


def q_flagship_region_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P5+A5: threshold filter + enumerated groups + group-count,
    one job (replaces /root/reference/sparktoELKstream.py:241-303)."""
    return analytics.threshold_counts_by_group(
        _t(spark, sf_dir, "events"), "event_type", "value", _MAG_THRESHOLD, _REGION_TYPES
    )


def q_union_region_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+A4: the reference's literal union-of-filtered-frames shape
    (/root/reference/sparktoELKstream.py:284-292); Catalyst collapses it."""
    return analytics.filtered_union_counts(
        _t(spark, sf_dir, "events"), "event_type", "value", _MAG_THRESHOLD, _REGION_TYPES
    )


def q_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6: plain group-count over all event types."""
    return analytics.counts_by_group(_t(spark, sf_dir, "events"), "event_type")


def q_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: full-row distinct (/root/reference/sparktoELKstream.py:99,105)."""
    out = dedup.distinct_rows(_t(spark, sf_dir, "events"))
    return out.withColumn("ts", F.date_format("ts", _TS_FMT_SPARK))


def q_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5 batch semantics: last-update-wins per key (what the reference's
    isEventUpdate handling needed but never had)."""
    out = dedup.latest_by_key(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", tiebreak=["event_id"]
    )
    return out.select("user_id", "event_id", "event_type", "value")


def q_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+P8: colStats parity — count/mean/sample-variance/stddev/min/max/sum
    (``sparktoELKstream.py:194-227``) in one aggregate pass.

    Rounded as ``round(x·10⁴)/10⁴`` on the double, as the oracle's DuckDB
    ``round(v, 4)`` does: ``F.round(x, 4)`` rounds the decimal string
    HALF_UP, so a mean of 199.71325 (binary 199.713249999…) would give
    199.7133 where DuckDB gives 199.7132."""
    out = stats.describe_numeric(_t(spark, sf_dir, "events"), ["value", "user_id"])
    return out.select(
        F.col("column").alias("col_name"),
        "statistic",
        (F.round(F.col("value") * 10000) / 10000).alias("value"),
    )


def q_global_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: global max/min in one job (vs two full reduce jobs at
    /root/reference/sparktoELKstream.py:319-324)."""
    return stats.global_extrema(_t(spark, sf_dir, "events"), "value")


def q_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: distinct group keys over the thresholded subset
    (/root/reference/sparktoELKstream.py:272-282)."""
    return analytics.distinct_group_keys(
        _t(spark, sf_dir, "events"), "event_type", "value", _MAG_THRESHOLD
    )


def q_top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 done right: deterministic top-k via total order; Spark plans
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    out = analytics.top_k(
        _t(spark, sf_dir, "orders"), ["o_totalprice", "o_orderkey"], 10
    )
    return out.select("o_orderkey", "o_custkey", "o_totalprice")


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/P2: JSON field extraction (the reference's from_json parse,
    /root/reference/sparktoELKstream.py:97-98)."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads via the VARIANT type (Spark 4): the JSON
    blob is parsed ONCE into the binary variant encoding, then every
    field access is a cheap binary probe — at 100 TB this replaces one
    full JSON re-parse per `get_json_object` call with parse-once /
    extract-many (the same access pattern `json_props` pays per field)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.parse_json("props").alias("_v")
    )
    k = F.try_variant_get(F.col("_v"), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_point_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/P3: concat-derived column (pointLocation,
    /root/reference/sparktoELKstream.py:104)."""
    return _t(spark, sf_dir, "events").select(
        "event_id", EF.point_location("user_id", "event_id").alias("point")
    )


# --------------------------------------------------------------------------
# Joins (SURVEY §2.3: J1 as-of/range/minute, J2 dim enrichment)
# --------------------------------------------------------------------------


def _minute_series(events: DataFrame, only_type: str | None = None) -> DataFrame:
    """Per-minute mean value — the electric-field series stand-in
    (1 sample/minute, /root/reference/electricraw.py:64-68)."""
    src = events.filter(F.col("event_type") == only_type) if only_type else events
    return src.groupBy(EF.minute_bucket("ts").alias("time")).agg(
        F.round(F.avg("value"), 4).alias("el_value")
    )


def q_minute_equijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 exact: event ↔ same-minute series sample, series broadcast."""
    events = _t(spark, sf_dir, "events")
    out = joins.minute_equijoin(
        events.select("event_id", "ts"), _minute_series(events), how="inner"
    )
    return out.select("event_id", "el_value")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 as-of: latest purchase-minute sample at-or-before each event,
    null once staler than 60 min (union + last(ignorenulls) window —
    distributed, no pandas)."""
    events = _t(spark, sf_dir, "events")
    series = _minute_series(events, only_type="purchase")
    out = joins.asof_join(
        events.select("event_id", "ts"),
        series,
        left_ts="ts",
        right_ts="time",
        right_cols=["el_value"],
        tolerance_minutes=60,
    )
    return out.select("event_id", "el_value")


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 range: samples within ±5 min of each event, bucketized into an
    equi-join (no cartesian product), counted per event."""
    events = _t(spark, sf_dir, "events")
    series = _minute_series(events, only_type="purchase")
    out = joins.range_join(
        events.select("event_id", "ts"), series, tolerance_minutes=5
    )
    return out.groupBy("event_id").agg(F.count("*").alias("n_samples"))


def q_region_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: two-level broadcast dimension enrichment (the Spark-first form of
    the reference's hardcoded group_city UDF,
    /root/reference/sparktoELKstream.py:56-74)."""
    events = _t(spark, sf_dir, "events").withColumn(
        "n_nationkey", (F.col("user_id") % 25).cast("int")
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    out = (
        events.join(F.broadcast(nation), "n_nationkey")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n"))
        .orderBy("r_name")
    )
    return out


def q_event_electric_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference's promised-but-unbuilt analysis (README.md:17,27):
    correlation between event magnitudes and the electric-field series.
    Minute-grain equi-join (J1) then Pearson correlation + sample
    covariance per event type — one aggregate pass after the join."""
    events = _t(spark, sf_dir, "events")
    joined = joins.minute_equijoin(
        events.select("event_id", "event_type", "value", "ts"),
        _minute_series(events),
        how="inner",
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.round(F.corr("value", "el_value"), 4).alias("pearson_r"),
            F.round(F.covar_samp("value", "el_value"), 4).alias("covar"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


def q_stream_correlate_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream correlation operator (streaming/joins.py — the
    reference README's promised live earthquake×electric correlation,
    /root/reference/README.md:17,27) run on BATCH inputs: Catalyst's
    EliminateEventTimeWatermark strips the watermarks on bounded frames,
    so the exact code path the streams run — bucketized equi-key plus
    interval residual — is hash-checked here against a DuckDB interval
    join, not just covered by streaming tests. Window semantics are the
    raw-timestamp BETWEEN (range_join's variant floors to epoch
    seconds)."""
    from egal_yet_another_earthquake_project_spark.streaming.joins import (
        correlate_streams,
    )

    events = _t(spark, sf_dir, "events")
    out = correlate_streams(
        events.select("event_id", "ts"),
        _minute_series(events, only_type="purchase"),
        event_ts="ts",
        tick_ts="time",
        tolerance_minutes=5,
    )
    return out.groupBy("event_id").agg(F.count("*").alias("n_samples"))


def q_median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the sketch-free path;
    percentile_approx is the scale path, tested separately)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        )
        .orderBy("event_type")
    )


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram: floor-bucket + count (the groupable
    form of a histogram at any scale)."""
    return (
        _t(spark, sf_dir, "events")
        .withColumn("bucket", F.floor(F.col("value") / 50).cast("long"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped wide aggregate (the A3 pattern at scale): decimal-
    routed sums so partition-parallel summation matches the oracle exactly."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    out = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast("decimal(3,0)") - disc))
            .cast("double")
            .alias("sum_disc_price"),
            F.sum(price * (F.lit(1).cast("decimal(3,0)") - disc) * (F.lit(1).cast("decimal(3,0)") + tax))
            .cast("double")
            .alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / F.count("*"), 6).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    return out


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clip values to the group's exact
    interpolated [p05, p95] and report tail-clip counts plus the
    clipped mean — the standard outlier treatment before training on a
    noisy numeric feature.

    Plan shape: the bounds frame is GROUP-KEY scale (one row per
    event_type — the same class as alpha_resample's quota table), so
    its broadcast is legitimate; then one projection clips and one
    aggregate summarizes. The clipped mean goes through the floor-1e-6
    integer grid (exact, partition-order-free — the label_centroids
    discipline) because the clip bounds are interpolated doubles."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("_lo"),
        F.expr("percentile(value, 0.95)").alias("_hi"),
    )
    cv = F.greatest(F.col("_lo"), F.least(F.col("_hi"), F.col("value")))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_type",
            F.when(F.col("value") < F.col("_lo"), 1).otherwise(0).alias("_is_lo"),
            F.when(F.col("value") > F.col("_hi"), 1).otherwise(0).alias("_is_hi"),
            F.floor(cv * 1000000).cast("long").alias("_qcv"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("_is_lo").cast("long").alias("n_lo"),
            F.sum("_is_hi").cast("long").alias("n_hi"),
            (
                F.round(
                    (F.sum("_qcv").cast("double") / F.lit(1000000.0))
                    / F.count("*"),
                    4,
                )
                + F.lit(0.0)
            ).alias("mean_clipped"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

_BASE_QUERIES: dict[str, QueryFn] = {
    "flagship_region_counts": q_flagship_region_counts,
    "union_region_counts": q_union_region_counts,
    "group_counts": q_group_counts,
    "distinct_rows": q_distinct_rows,
    "latest_per_user": q_latest_per_user,
    "numeric_stats": q_numeric_stats,
    "global_minmax": q_global_minmax,
    "distinct_keys": q_distinct_keys,
    "top10_orders": q_top10_orders,
    "json_props": q_json_props,
    "variant_props": q_variant_props,
    "point_location": q_point_location,
    "minute_equijoin": q_minute_equijoin,
    "asof_join": q_asof_join,
    "range_join": q_range_join,
    "stream_correlate_batch": q_stream_correlate_batch,
    "region_dim_join": q_region_dim_join,
    "pricing_summary": q_pricing_summary,
    "event_electric_correlation": q_event_electric_correlation,
    "median_by_group": q_median_by_group,
    "value_histogram": q_value_histogram,
    "winsorized_stats": q_winsorized_stats,
}

_REGION_IN = "('click', 'error', 'view')"

_SERIES_ALL = (
    "SELECT date_trunc('minute', ts) AS time, round(avg(value), 4) AS el_value "
    "FROM events GROUP BY date_trunc('minute', ts)"
)
_SERIES_PURCHASE = (
    "SELECT date_trunc('minute', ts) AS time, round(avg(value), 4) AS el_value "
    "FROM events WHERE event_type = 'purchase' GROUP BY date_trunc('minute', ts)"
)

_BASE_ORACLES: dict[str, str] = {
    "flagship_region_counts": f"""
        SELECT event_type, count(*) AS n FROM events
        WHERE value >= 4.0 AND event_type IN {_REGION_IN}
        GROUP BY event_type ORDER BY event_type
    """,
    "union_region_counts": f"""
        SELECT event_type, count(*) AS n FROM events
        WHERE value >= 4.0 AND event_type IN {_REGION_IN}
        GROUP BY event_type ORDER BY event_type
    """,
    "group_counts": """
        SELECT event_type, count(*) AS n FROM events
        GROUP BY event_type ORDER BY event_type
    """,
    "distinct_rows": f"""
        SELECT DISTINCT event_id, strftime(ts, '{_TS_FMT_DUCK}') AS ts,
               user_id, event_type, value, props
        FROM events
    """,
    "latest_per_user": """
        SELECT user_id, event_id, event_type, value FROM events
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    "numeric_stats": """
        WITH s AS (
          SELECT 'value' AS col_name, 'count' AS statistic,
                 CAST(count(value) AS DOUBLE) AS v FROM events
          UNION ALL SELECT 'value', 'mean', avg(value) FROM events
          UNION ALL SELECT 'value', 'variance', var_samp(value) FROM events
          UNION ALL SELECT 'value', 'stddev', stddev_samp(value) FROM events
          UNION ALL SELECT 'value', 'min', min(value) FROM events
          UNION ALL SELECT 'value', 'max', max(value) FROM events
          UNION ALL SELECT 'value', 'sum', sum(value) FROM events
          UNION ALL SELECT 'user_id', 'count', CAST(count(user_id) AS DOUBLE) FROM events
          UNION ALL SELECT 'user_id', 'mean', avg(user_id) FROM events
          UNION ALL SELECT 'user_id', 'variance', var_samp(user_id) FROM events
          UNION ALL SELECT 'user_id', 'stddev', stddev_samp(user_id) FROM events
          UNION ALL SELECT 'user_id', 'min', CAST(min(user_id) AS DOUBLE) FROM events
          UNION ALL SELECT 'user_id', 'max', CAST(max(user_id) AS DOUBLE) FROM events
          UNION ALL SELECT 'user_id', 'sum', CAST(sum(user_id) AS DOUBLE) FROM events
        )
        SELECT col_name, statistic, round(v, 4) AS value FROM s
    """,
    "global_minmax": """
        SELECT CAST(max(value) AS DOUBLE) AS max_value,
               CAST(min(value) AS DOUBLE) AS min_value
        FROM events
    """,
    "distinct_keys": """
        SELECT DISTINCT event_type FROM events WHERE value >= 4.0
        ORDER BY event_type
    """,
    "top10_orders": """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 10
    """,
    "json_props": """
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        FROM events
    """,
    "variant_props": """
        SELECT event_type, count(*) AS n,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
                    AS BIGINT) AS sum_k,
               CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER))
                    AS INTEGER) AS max_k
        FROM events
        GROUP BY event_type ORDER BY event_type
    """,
    "point_location": """
        SELECT event_id, user_id || ',' || event_id AS point FROM events
    """,
    "minute_equijoin": f"""
        WITH s AS ({_SERIES_ALL})
        SELECT e.event_id, s.el_value
        FROM events e JOIN s ON date_trunc('minute', e.ts) = s.time
    """,
    "asof_join": f"""
        WITH s AS ({_SERIES_PURCHASE})
        SELECT e.event_id,
               CASE WHEN s.time < date_trunc('second', e.ts) - INTERVAL 60 MINUTE THEN NULL
                    ELSE s.el_value END AS el_value
        FROM events e ASOF LEFT JOIN s ON e.ts >= s.time
    """,
    "range_join": f"""
        WITH s AS ({_SERIES_PURCHASE})
        SELECT e.event_id, count(*) AS n_samples
        FROM events e JOIN s
          ON abs(CAST(floor(epoch(s.time)) AS BIGINT)
               - CAST(floor(epoch(e.ts)) AS BIGINT)) <= 300
        GROUP BY e.event_id
    """,
    "stream_correlate_batch": f"""
        WITH s AS ({_SERIES_PURCHASE})
        SELECT e.event_id, count(*) AS n_samples
        FROM events e JOIN s
          ON s.time BETWEEN e.ts - INTERVAL 5 MINUTE
                        AND e.ts + INTERVAL 5 MINUTE
        GROUP BY e.event_id
    """,
    "region_dim_join": """
        SELECT r_name, count(*) AS n
        FROM events e
        JOIN nation n ON n.n_nationkey = e.user_id % 25
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY r_name ORDER BY r_name
    """,
    "event_electric_correlation": f"""
        WITH s AS ({_SERIES_ALL})
        SELECT e.event_type,
               round(corr(e.value, s.el_value), 4) AS pearson_r,
               round(covar_samp(e.value, s.el_value), 4) AS covar,
               count(*) AS n
        FROM events e JOIN s ON date_trunc('minute', e.ts) = s.time
        GROUP BY e.event_type ORDER BY e.event_type
    """,
    "median_by_group": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS p50,
               round(quantile_cont(value, 0.9), 4) AS p90
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "value_histogram": """
        SELECT CAST(floor(value / 50) AS BIGINT) AS bucket, count(*) AS n
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "winsorized_stats": """
        WITH b AS (
          SELECT event_type,
                 quantile_cont(value, 0.05) AS lo,
                 quantile_cont(value, 0.95) AS hi
          FROM events GROUP BY event_type
        ),
        c AS (
          SELECT e.event_type,
                 CASE WHEN value < lo THEN 1 ELSE 0 END AS is_lo,
                 CASE WHEN value > hi THEN 1 ELSE 0 END AS is_hi,
                 CAST(floor(greatest(lo, least(hi, value)) * 1000000) AS BIGINT) AS qcv
          FROM events e JOIN b USING (event_type)
        )
        SELECT event_type,
               CAST(sum(is_lo) AS BIGINT) AS n_lo,
               CAST(sum(is_hi) AS BIGINT) AS n_hi,
               round((CAST(sum(qcv) AS DOUBLE) / 1000000.0) / count(*), 4) + 0.0
                 AS mean_clipped
        FROM c GROUP BY event_type ORDER BY event_type
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
}


# Merge in the training-data-pipeline workload (dedup / similarity / text /
# multimodal) and the extended OLAP/window workload. Imported late to keep
# module init cheap and cycle-free.
from egal_yet_another_earthquake_project_spark import (  # noqa: E402
    workloads_corpus,
    workloads_ext,
    workloads_linkage,
    workloads_llm,
    workloads_probe,
    workloads_series,
    workloads_sketch,
    workloads_tpch,
)

QUERIES: dict[str, QueryFn] = {
    **_BASE_QUERIES,
    **workloads_llm.QUERIES,
    **workloads_ext.QUERIES,
    **workloads_tpch.QUERIES,
    **workloads_corpus.QUERIES,
    **workloads_sketch.QUERIES,
    **workloads_linkage.QUERIES,
    **workloads_series.QUERIES,
    **workloads_probe.QUERIES,
}
ORACLES: dict[str, str] = {
    **_BASE_ORACLES,
    **workloads_llm.ORACLES,
    **workloads_ext.ORACLES,
    **workloads_tpch.ORACLES,
    **workloads_corpus.ORACLES,
    **workloads_sketch.ORACLES,
    **workloads_linkage.ORACLES,
    **workloads_series.ORACLES,
    **workloads_probe.ORACLES,
}


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """The driver smoke entry: load the tables, run the flagship analytic."""
    load_testdata(spark, sf_dir)
    return q_flagship_region_counts(spark, sf_dir)
