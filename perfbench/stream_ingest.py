"""``quake_stream_ingest``: open-loop live ingest.

A generator drops envelope parquet files, atomically (write aside, then
rename), into a directory tailed by ``sources.files.stream_parquet_dir`` on
a fixed schedule that does not wait for the engine. The query is
``streaming.silver.parsed_stream`` → ``dedup_stream`` →
``foreachBatch(sinks.elasticsearch.streaming_es_sink)`` to the stand-in
``_bulk`` endpoint.

Each tick carries a contiguous eventID range and a due time. An event's
latency runs from its tick's due time to the end of the micro-batch that
delivered it to the sink. After the base-rate window, a burst of files is
dropped at once and the time to drain it gives the saturated throughput.
Check: every non-late eventID reaches the sink exactly once, and no late
one does.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from dataclasses import dataclass
from datetime import datetime

import pyarrow.parquet as pq

from egal_yet_another_earthquake_project_spark.schemas import KAFKA_ENVELOPE
from egal_yet_another_earthquake_project_spark.sinks.elasticsearch import streaming_es_sink
from egal_yet_another_earthquake_project_spark.sources.files import stream_parquet_dir
from egal_yet_another_earthquake_project_spark.streaming.silver import (
    dedup_stream,
    parsed_stream,
)

import inputs
from harness import noop_write, quantile

TICK_S = 0.25
#: Seconds of base-rate input fed before the timed window, then drained:
#: the first micro-batches of a fresh JVM run several times slower.
WARMUP_S = 8.0
#: Bursts dropped after the window; the drain rate is their median.
BURSTS = 2
FIRST_ID = 1_000_000


@dataclass(eq=False)
class Tick:
    table: object
    first_id: int
    n_ids: int
    late_ids: set
    due: float = 0.0
    written: float = 0.0


class StreamIngest:
    name = "quake_stream_ingest"
    #: The per-layer metrics a traced run of this workload produces.
    LAYERS = (
        "stream.batches",
        "stream.batch_ms_p50",
        "stream.batch_ms_max",
        "stream.add_batch_ms",
        "stream.query_planning_ms",
        "stream.wal_commit_ms",
        "stream.latest_offset_ms",
        "stream.state_rows",
        "stream.state_memory_bytes",
        "stream.late_rows_dropped",
        "stream.backlog_events_end",
        "gen.late_ms_max",
        "dedup.rows_in",
        "dedup.rows_out",
        "es.self_s",
        "es.bulk_requests",
        "es.docs_posted",
        "es.bytes_posted",
        "es.docs_per_request",
        "es.server_busy_s",
        "es.failed_requests",
    )

    def __init__(self, bench, rate: int, burst: int) -> None:
        self.b = bench
        self.per_tick = max(1, round(rate * TICK_S))
        self.burst = burst
        self.in_dir = os.path.join(bench.workdir, "stream_in")
        self.stage_dir = os.path.join(bench.workdir, "stream_stage")
        self.index = "quakes-live"
        self.tracing = False
        self.sink_spans: list[tuple[float, float]] = []

    # -- inputs ---------------------------------------------------------------

    def generate(self) -> None:
        n_warm = math.ceil(WARMUP_S / TICK_S)
        n_timed = math.ceil(self.b.seconds / TICK_S)
        self.ticks: list[Tick] = []
        prev: list[dict] = []
        next_id = FIRST_ID
        for k in range(n_warm + n_timed + BURSTS):
            burst = k >= n_warm + n_timed
            n = self.burst if burst else self.per_tick
            payloads, late = inputs.stream_tick(
                self.b.seed, k, next_id, n, TICK_S, [] if burst else prev, late=k >= n_warm
            )
            self.ticks.append(Tick(inputs.envelope_table(payloads), next_id, n, late))
            next_id += n
            prev = payloads
        self.warm = self.ticks[:n_warm]
        self.timed = self.ticks[n_warm : n_warm + n_timed]
        self.bursts = self.ticks[n_warm + n_timed :]
        os.makedirs(self.in_dir, exist_ok=True)
        os.makedirs(self.stage_dir, exist_ok=True)

    def _drop(self, tick: Tick, name: str, parts: int = 1) -> None:
        """Write the tick aside, then rename it into the tailed directory."""
        rows = tick.table.num_rows
        step = math.ceil(rows / parts)
        staged = []
        for p in range(parts):
            path = os.path.join(self.stage_dir, f"{name}-{p}.parquet")
            pq.write_table(tick.table.slice(p * step, step), path)
            staged.append(path)
        for path in staged:
            os.rename(path, os.path.join(self.in_dir, os.path.basename(path)))
        tick.written = time.time()

    def _feed(self, ticks: list[Tick], label: str) -> None:
        """Open loop: tick k is due at t0 + k·TICK_S whatever the engine does."""
        t0 = time.time()
        for k, tick in enumerate(ticks):
            tick.due = t0 + k * TICK_S
            wait = tick.due - time.time()
            if wait > 0:
                time.sleep(wait)
            self._drop(tick, f"{label}-{k:05d}")

    # -- query --------------------------------------------------------------

    def _start(self) -> None:
        spark = self.b.spark
        engine_sink = streaming_es_sink(self.index, es_url=self.b.es.url)
        sink = engine_sink
        if self.b.trace:
            tr = self.b.tracer

            def sink(df, epoch):  # noqa: F811 — traced wrapper
                if not self.tracing:
                    return engine_sink(df, epoch)
                tr.new_trace()
                with tr.span("micro_batch"):
                    with tr.span("streaming.silver"):
                        df.persist()
                        noop_write(df)
                    with tr.span("sinks.elasticsearch") as s:
                        engine_sink(df, epoch)
                    df.unpersist()
                self.sink_spans.append((s["start"], s["end"]))

        stream = stream_parquet_dir(spark, self.in_dir, KAFKA_ENVELOPE)
        self.query = (
            dedup_stream(parsed_stream(stream))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(self.b.workdir, "ckpt"))
            .start()
        )

    def warmup(self) -> None:
        self._start()
        self._feed(self.warm, "warm")
        self.query.processAllAvailable()

    def _progress(self) -> list[dict]:
        out = []
        for p in self.query.recentProgress:
            d = json.loads(p.json) if hasattr(p, "json") else dict(p)
            start = datetime.strptime(d["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            d["_start"] = (start - datetime(1970, 1, 1)).total_seconds()
            d["_end"] = d["_start"] + d["durationMs"].get("triggerExecution", 0) / 1000
            out.append(d)
        return out

    # -- measurement ----------------------------------------------------------

    def measure(self) -> dict:
        es = self.b.es
        stats0 = es.stats()
        half = len(self.timed) // 2
        t_timed = time.time()
        if self.b.trace:
            self._feed(self.timed[:half], "timed-a")
            self.tracing = True
            self._feed(self.timed[half:], "timed-b")
        else:
            self._feed(self.timed, "timed")
        delivered_at_end = es.stats()["docs"] - stats0["docs"]
        self.query.processAllAvailable()
        es_layers = es.layer_metrics(stats0, es.stats())

        drops = []
        for k, tick in enumerate(self.bursts):
            drops.append(time.time())
            self._drop(tick, f"burst-{k}", parts=self.b.nproc)
            self.query.processAllAvailable()
        progress = self._progress()
        self.query.stop()

        batches = sorted(
            (p for p in progress if p["numInputRows"] > 0 and p["_start"] >= t_timed - 1),
            key=lambda p: p["_end"],
        )
        ends = [p["_end"] for p in batches]
        counts = es.ids(self.index)
        arrivals = es.arrivals(self.index)

        def commit_of(arrival: float) -> float:
            return next((e for e in ends if e >= arrival), ends[-1])

        latencies, failed, attempted = [], 0, 0
        expected_timed = 0
        phases = [(t, False) for t in self.warm + self.bursts]
        for tick, timed in phases + [(t, True) for t in self.timed]:
            for i in range(tick.first_id, tick.first_id + tick.n_ids):
                key = str(i)
                attempted += 1
                late = key in tick.late_ids
                ok = counts.get(key, 0) == (0 if late else 1)
                failed += not ok
                if timed and ok and not late:
                    expected_timed += 1
                    latencies.append(commit_of(arrivals[key]) - tick.due)
        failed += len(set(counts) - {
            str(i) for t in self.ticks for i in range(t.first_id, t.first_id + t.n_ids)
        })

        drain_rates = []
        for tick, t_drop, t_next in zip(self.bursts, drops, drops[1:] + [math.inf]):
            done = max(p["_end"] for p in batches if t_drop <= p["_end"] < t_next)
            drain_rates.append(tick.table.num_rows / (done - t_drop))
        drain_eps = statistics.median(drain_rates)

        timed_batches = [p for p in batches if p["_end"] < drops[0]]
        p50, p95, p99 = (quantile(latencies, q) for q in (0.5, 0.95, 0.99))
        gen_late_ms = max(t.written - t.due for t in self.timed) * 1000
        res = {
            "attempted": attempted,
            "failed": failed,
            "e2e": {
                "latency_p50_ms": p50 * 1000,
                "latency_p95_ms": p95 * 1000,
                "throughput_per_s": drain_eps,
            },
            "named": {
                "stream_latency_p50_ms": (p50 * 1000, "ms"),
                "stream_latency_p95_ms": (p95 * 1000, "ms"),
                "stream_latency_p99_ms": (p99 * 1000, "ms"),
                "stream_base_rate_eps": (self.per_tick / TICK_S, "1/s"),
                "stream_drain_eps": (drain_eps, "1/s"),
                "stream_latency_samples": (len(latencies), "count"),
                "gen_late_ms_max": (gen_late_ms, "ms"),
            },
            "layers": {},
            "batch_ms": [p["durationMs"]["triggerExecution"] for p in timed_batches],
        }
        if self.b.trace:
            res["layers"] = self._layers(timed_batches, half, expected_timed, delivered_at_end, gen_late_ms)
            res["layers"].update(es_layers, **{"dedup.rows_out": es_layers["es.docs_posted"]})
        return res

    def _layers(self, batches, half, expected_timed, delivered_at_end, gen_late_ms) -> dict:
        def med(key):
            vals = [p["durationMs"].get(key, 0) for p in batches]
            return statistics.median(vals) if vals else 0.0

        trig = [p["durationMs"].get("triggerExecution", 0) for p in batches]
        t_switch = self.timed[half].due
        untraced = [p["durationMs"]["triggerExecution"] for p in batches if p["_end"] < t_switch]
        traced = [p["durationMs"]["triggerExecution"] for p in batches if p["_start"] >= t_switch]
        state = batches[-1]["stateOperators"][0] if batches and batches[-1]["stateOperators"] else {}
        es_s = [e - s for s, e in self.sink_spans]
        return {
            "stream.batches": len(batches),
            "stream.batch_ms_p50": statistics.median(trig),
            "stream.batch_ms_max": max(trig),
            "stream.add_batch_ms": med("addBatch"),
            "stream.query_planning_ms": med("queryPlanning"),
            "stream.wal_commit_ms": med("walCommit"),
            "stream.latest_offset_ms": med("latestOffset"),
            "stream.state_rows": state.get("numRowsTotal", 0),
            "stream.state_memory_bytes": state.get("memoryUsedBytes", 0),
            "stream.late_rows_dropped": sum(
                op.get("numRowsDroppedByWatermark", 0) for p in batches for op in p["stateOperators"]
            ),
            "stream.backlog_events_end": max(0, expected_timed - delivered_at_end),
            "gen.late_ms_max": gen_late_ms,
            "dedup.rows_in": sum(p["numInputRows"] for p in batches),
            "es.self_s": statistics.median(es_s) if es_s else 0.0,
            "trace.overhead_ratio": (
                statistics.median(traced) / statistics.median(untraced) - 1
                if traced and untraced
                else 0.0
            ),
        }
