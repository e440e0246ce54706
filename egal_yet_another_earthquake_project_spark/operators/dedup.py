"""Deduplication operators (SURVEY A1/A2, ST5).

The reference deduplicates with two full-row ``distinct()`` passes — one on
the DataFrame (/root/reference/sparktoELKstream.py:99) and one on the RDD
tuples (:105) — which still leaves near-duplicate docs when AFAD re-sends an
event with ``isEventUpdate=true`` (SURVEY ST5). Engine semantics:

* :func:`distinct_rows` — the reference's literal behavior, one pass.
* :func:`latest_by_key` — last-update-wins upsert semantics (what the
  reference's ES sink needed), via ``max_by``-style window, shuffle-once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def distinct_rows(df: DataFrame) -> DataFrame:
    """Full-row dedup (A1+A2 collapse into one shuffle)."""
    return df.distinct()


def latest_by_key(
    df: DataFrame, keys: Sequence[str], order_col: str, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """Last-update-wins: the newest row per key by ``order_col``.

    Implemented as a row_number window (single shuffle on ``keys``). Pass
    ``tiebreak`` columns to make the winner deterministic when ``order_col``
    ties — required for oracle-hash parity and for idempotent replays.
    """
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    fp_col: str,
) -> DataFrame:
    """Corpus-version diff: per id, whether it was added, removed,
    changed (same id, different content fingerprint) or unchanged —
    the audit every dataset release needs before shipping v(N+1).

    One full-outer join on the id with a fingerprint compare; both
    sides are pre-projected to (id, fp) so the join carries two slim
    columns, not document bodies. Output: (id, status) with status ∈
    {added, removed, changed, unchanged}.
    """
    from pyspark.sql import functions as F

    o = old.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_ofp"))
    n = new.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_nfp"))
    return o.join(n, "_id", "full_outer").select(
        F.col("_id").alias(id_col),
        F.when(F.col("_ofp").isNull(), F.lit("added"))
        .when(F.col("_nfp").isNull(), F.lit("removed"))
        .when(F.col("_ofp") == F.col("_nfp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )
