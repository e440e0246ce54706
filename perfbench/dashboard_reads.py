"""Dashboard reads and corpus curation, measured in traced runs only.

No listed workload times these end to end (see README.md, "Left out"); a
traced ``quake_batch_load`` run measures their layers after its window:

* the earthquake-analytics queries of ``workloads.QUERIES`` over a
  generated ``events``/``nation``/``region`` star: one untimed pass, then
  one traced pass with each query's plan build, physical planning and
  execution timed apart, in an order the seed sets. Every result is
  hash-matched against its ``workloads.ORACLES`` SQL run in DuckDB over the
  same files, computed in set-up.
* one corpus-curation job (``curate.curate_corpus`` with near-dedup,
  decontamination and α-resample, then ``curate.write_shards``) over a
  generated ``documents`` table, checked against the curation invariants.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import statistics
from decimal import Decimal

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from egal_yet_another_earthquake_project_spark import curate
from egal_yet_another_earthquake_project_spark.sources.files import read_table
from egal_yet_another_earthquake_project_spark.workloads import ORACLES, QUERIES

import inputs
from harness import NPROC, job_group

#: The curate job's settings: every optional lexical stage on, as the
#: engine's own bench runs it.
CURATE_ALPHA = 0.7
CURATE_CTX = 256
#: Documents with these ids form the decontamination (eval) set.
EVAL_IDS = 3

DASHBOARD_QUERIES = (
    "flagship_region_counts",
    "numeric_stats",
    "global_minmax",
    "distinct_keys",
    "latest_per_user",
    "minute_equijoin",
    "asof_join",
    "range_join",
    "event_electric_correlation",
    "region_dim_join",
    "median_by_group",
    "value_histogram",
    "interpolate_gaps",
    "zscore_outliers",
)
JOINS = {"minute_equijoin", "asof_join", "range_join", "event_electric_correlation", "region_dim_join"}
SERIES = {"interpolate_gaps", "zscore_outliers"}
TABLES = ("events", "nation", "region")


def digest(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result, columns matched by name: numbers
    compare as floats (NaN as a token), rows are sorted, then hashed."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if isinstance(v, bool) or v is None or isinstance(v, str):
            return v
        if isinstance(v, (int, float, Decimal)):
            f = float(v)
            return "NaN" if math.isnan(f) else f + 0.0
        return str(v)

    canon = sorted(repr(tuple(norm(r[i]) for i in order)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def _norm(text: str) -> str:
    return " ".join(text.lower().split())


class DashboardReads:
    #: The per-layer metrics :meth:`layers` produces.
    LAYERS = (
        "plan.build_ms",
        "plan.optimize_ms",
        "exec.ms",
        "exec.shuffle_bytes",
        "exec.rows_returned",
        "joins.exec_ms",
        "series.exec_ms",
        "curate.self_s",
        "curate.write_s",
        "curate.spark_jobs",
        "curate.kept_ratio",
    )

    def __init__(self, bench, n_events: int, n_docs: int) -> None:
        self.b = bench
        self.n_events = n_events
        self.n_docs = n_docs
        self.sf_dir = os.path.join(bench.workdir, "sf")
        self.passes = 0

    def generate(self) -> None:
        inputs.write_dashboard_tables(self.sf_dir, self.n_events, self.b.seed)
        inputs.write_documents(self.sf_dir, self.n_docs, self.b.seed)
        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {NPROC}")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            self.oracle = {}
            for name in DASHBOARD_QUERIES:
                cur = con.execute(ORACLES[name])
                self.oracle[name] = digest([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()

    def _order(self) -> list[str]:
        self.passes += 1
        order = list(DASHBOARD_QUERIES)
        random.Random(self.b.seed * 7919 + self.passes).shuffle(order)
        return order

    def _check(self, name: str, df, rows) -> bool:
        return digest(df.columns, rows) == self.oracle[name]

    def layers(self) -> tuple[list[bool], dict]:
        """An untimed pass, a traced pass and one curation job: the checks
        of the traced pass and the job, and their layers."""
        for name in self._order():
            QUERIES[name](self.b.spark, self.sf_dir).collect()
        checks, layers = self.traced()
        ok, curate_layers = self.curate_once()
        return checks + [ok], {**layers, **curate_layers}

    def traced(self) -> tuple[list[bool], dict]:
        """One pass with the plan build (DataFrame construction and
        analysis), optimization/physical planning and execution timed apart,
        each query in its own job group."""
        spark, tr = self.b.spark, self.b.tracer
        tr.new_trace()
        checks, build, optimize, execute = [], [], [], {}
        shuffle = rows_returned = 0
        with tr.span("dashboard_pass"):
            for name in self._order():
                with job_group(spark, name) as jg, tr.span(f"query.{name}"):
                    with tr.span("plan.build") as s_b:
                        df = QUERIES[name](spark, self.sf_dir)
                    with tr.span("plan.optimize") as s_o:
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("exec") as s_e:
                        rows = df.collect()
                checks.append(self._check(name, df, rows))
                build.append(s_b["end"] - s_b["start"])
                optimize.append(s_o["end"] - s_o["start"])
                execute[name] = s_e["end"] - s_e["start"]
                shuffle += jg.shuffle_write_bytes
                rows_returned += len(rows)
        return checks, {
            "plan.build_ms": statistics.median(build) * 1000,
            "plan.optimize_ms": statistics.median(optimize) * 1000,
            "exec.ms": statistics.median(execute.values()) * 1000,
            "exec.shuffle_bytes": shuffle,
            "exec.rows_returned": rows_returned,
            "joins.exec_ms": sum(execute[n] for n in JOINS) * 1000,
            "series.exec_ms": sum(execute[n] for n in SERIES) * 1000,
        }

    def curate_once(self) -> tuple[bool, dict]:
        """One curation job with its plan materialized, then written as
        shards; returns the invariant check and the ``curate.*`` layers."""
        spark, tr = self.b.spark, self.b.tracer
        docs = read_table(spark, self.sf_dir, "documents")
        budget = self.n_docs // 2
        out_dir = os.path.join(self.b.workdir, "shards")
        tr.new_trace()
        with tr.span("curate"):
            with job_group(spark, "curate") as jobs:
                with tr.span("curate.curate_corpus") as s_c:
                    result = curate.curate_corpus(
                        docs,
                        near_dedup=True,
                        decontaminate=docs.filter(F.col("doc_id") < EVAL_IDS),
                        alpha=CURATE_ALPHA,
                        budget=budget,
                        ctx=CURATE_CTX,
                    )
                    kept = result.corpus.select("doc_id", "source", "text").collect()
                with tr.span("curate.write_shards") as s_w:
                    curate.write_shards(result, out_dir)
        spark.catalog.clearCache()
        ids = [r["doc_id"] for r in kept]
        texts = [_norm(r["text"]) for r in kept]
        shards = pq.read_table(out_dir, columns=["doc_id"]).column("doc_id").to_pylist()
        # The α-resample lands near the budget, not exactly on it.
        ok = (
            result.stats["input"] == self.n_docs
            and 0 < len(ids) == result.stats["after_resample"] < result.stats["after_dedup"]
            and len(set(ids)) == len(ids)
            and all(0 <= i < self.n_docs for i in ids)
            and min(ids) >= EVAL_IDS
            and len(set(texts)) == len(texts)
            and sorted(shards) == sorted(ids)
            and {d for d in os.listdir(out_dir) if d.startswith("source=")}
            == {f"source={r['source']}" for r in kept}
        )
        return ok, {
            "curate.self_s": s_c["end"] - s_c["start"],
            "curate.write_s": s_w["end"] - s_w["start"],
            "curate.spark_jobs": jobs.jobs,
            "curate.kept_ratio": len(ids) / self.n_docs,
        }

