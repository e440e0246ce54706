"""Local replica of the driver's DuckDB-oracle comparison.

Runs a declared Spark query and its oracle SQL over the same parquet
tables, sorts rows column-name-wise, and compares values. Mirrors the
driver's order-insensitive value-hash gate closely enough that a pass here
strongly predicts a pass there.
"""

from __future__ import annotations

import math
import os

import duckdb

_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def run_oracle(sql: str, sf_dir: str) -> tuple[list[str], list[tuple]]:
    con = duckdb.connect()
    for t in (t for t in _TABLES if os.path.exists(f"{sf_dir}/{t}.parquet")):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def _sortable(row):
    return tuple((x is None, str(x)) for x in row)


def compare(spark_df, oracle_sql: str, sf_dir: str) -> list[str]:
    """Return a list of mismatch descriptions; empty == parity."""
    problems: list[str] = []
    o_cols, o_rows = run_oracle(oracle_sql, sf_dir)
    s_cols = spark_df.columns
    if sorted(s_cols) != sorted(o_cols):
        problems.append(f"column sets differ: spark={sorted(s_cols)} oracle={sorted(o_cols)}")
        return problems
    # Driver sorts columns by name before hashing.
    order = sorted(s_cols)
    s_rows = [
        tuple(_norm(r[c]) for c in order) for r in spark_df.collect()
    ]
    o_idx = {c: i for i, c in enumerate(o_cols)}
    o_rows_n = [tuple(_norm(r[o_idx[c]]) for c in order) for r in o_rows]
    if len(s_rows) != len(o_rows_n):
        problems.append(f"row counts differ: spark={len(s_rows)} oracle={len(o_rows_n)}")
    s_sorted = sorted(s_rows, key=_sortable)
    o_sorted = sorted(o_rows_n, key=_sortable)
    for i, (a, b) in enumerate(zip(s_sorted, o_sorted)):
        if a != b:
            problems.append(f"first differing row #{i}: spark={a!r} oracle={b!r}")
            break
    # The driver hashes RENDERED values, so 99111 (bigint) and 99111.0
    # (a HUGEINT surfaced as float) are equal here but hash-differ there
    # — the exact failure class of round 3's variant_props row. Flag
    # cross-engine Python-type drift between numeric families and
    # date/datetime even when the values compare equal.
    import datetime as _dt

    def _render_class(v):
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int"
        if isinstance(v, float):
            return "float"
        if isinstance(v, _dt.datetime):
            return "datetime"
        if isinstance(v, _dt.date):
            return "date"
        return type(v).__name__
    for a, b in zip(s_sorted[:1], o_sorted[:1]):
        for j, (x, y) in enumerate(zip(a, b)):
            if x is None or y is None:
                continue
            cx, cy = _render_class(x), _render_class(y)
            if cx != cy:
                problems.append(
                    f"render-type drift in column {order[j]!r}: "
                    f"spark={cx} ({x!r}) oracle={cy} ({y!r}) — equal values "
                    f"but the driver's rendered-value hash will differ"
                )
    return problems
