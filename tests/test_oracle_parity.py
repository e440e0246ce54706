"""Every declared query must match its DuckDB oracle (the driver's t2 gate)."""

from __future__ import annotations

import duckdb
import pytest

from egal_yet_another_earthquake_project_spark import workloads

from tests.conftest import TESTDATA_ORACLE
from tests.oracle_harness import compare


@pytest.mark.parametrize("name", sorted(workloads.QUERIES))
def test_query_matches_oracle(spark, name, tmp_path):
    if name not in workloads.ORACLES:
        pytest.skip(f"{name} has no SQL oracle (rows-only check)")
    df = workloads.QUERIES[name](spark, TESTDATA_ORACLE)
    problems = compare(df, workloads.ORACLES[name], TESTDATA_ORACLE)
    assert not problems, f"{name}: " + "; ".join(problems)
    if name == "numeric_stats":
        # A 4-place rounding tie: the user_id mean 798853/4000 = 199.71325
        # is 199.713249999... as a double, so both sides round it down.
        duckdb.sql(
            "SELECT i AS event_id, TIMESTAMP '2024-01-01' AS ts,"
            " CAST(CASE WHEN i < 2853 THEN 200 ELSE 199 END AS BIGINT) AS user_id,"
            " 'click' AS event_type, 1.5 :: DOUBLE AS value, NULL :: VARCHAR AS props"
            " FROM range(4000) t(i)"
        ).write_parquet(str(tmp_path / "events.parquet"))
        df = workloads.QUERIES[name](spark, str(tmp_path))
        means = {r.col_name: r.value for r in df.collect() if r.statistic == "mean"}
        assert means["user_id"] == 199.7132
        problems = compare(df, workloads.ORACLES[name], str(tmp_path))
        assert not problems, f"{name} at a rounding tie: " + "; ".join(problems)


def test_entry_smoke(spark):
    import importlib
    import sys

    sys.path.insert(0, "/root/repo")
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(mod.oracle_sql()) <= set(mod.queries())
