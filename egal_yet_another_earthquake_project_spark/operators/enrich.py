"""Silver enrichment: fault-line region bucketing.

The reference hardcodes three province membership lists in a Python
function applied per row inside an RDD map (``sparktoELKstream.py:56-74,103``
there). Here the same lists become one ``when(col.isin(...))`` chain: a pure
column expression, so the lookup stays JVM-side, needs no join or dimension
frame, and runs unchanged in batch and streaming plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from egal_yet_another_earthquake_project_spark.dims import _PROVINCES


def with_fault_line(df: DataFrame, province_col: str = "province") -> DataFrame:
    """Attach ``fault_line`` (F6); unlisted and null provinces get ``''``
    (the reference's else-branch, ``sparktoELKstream.py:69-70``)."""
    c = F.col(province_col)
    expr = F.lit("")
    # Build the when-chain in reverse so the first region wins, matching the
    # reference's if/elif order.
    for region, provinces in reversed(list(_PROVINCES.items())):
        expr = F.when(c.isin(*provinces), F.lit(region)).otherwise(expr)
    return df.withColumn("fault_line", expr)
