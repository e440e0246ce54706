"""Shared machinery for the benchmark workloads.

Everything here sits outside the engine package: session sizing through the
env and ``extra_conf`` the engine's session factory accepts, peak-RSS
sampling from ``/proc``, the host-contention probe, percentile helpers, the
span tracer, Spark counters read from public surfaces (job groups, the
status store, streaming progress) and the client of the stand-in ``_bulk``
endpoint.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import subprocess
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

NPROC = os.cpu_count() or 4


def driver_mem_gib() -> int:
    """Driver heap sized to the host: a sixth of physical memory, 1-4 GiB.
    The engine's factory defaults to 48g, which overcommits a small box."""
    with open("/proc/meminfo") as fh:
        kib = int(fh.readline().split()[1])
    return min(4, max(1, kib // (6 * 1024 * 1024)))


def start_session(workdir: str):
    """Start the engine session on ``local[nproc]`` with the UI and console
    progress off and every scratch path inside ``workdir``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    mem = f"{driver_mem_gib()}g"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # The launcher JVM that spark-submit starts first takes its options here.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # session.py reads SPARK_GRAFT_CPUS at import time: import it only now.
    from egal_yet_another_earthquake_project_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # A heap that starts at its full size keeps G1's resizing out of the
        # run-to-run spread.
        "spark.driver.extraJavaOptions": f"-Xms{mem} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{NPROC}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def session_record(spark) -> dict:
    """The session settings a reader needs to reproduce a run."""
    get = spark.conf.get
    return {
        "master": spark.sparkContext.master,
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "shuffle_partitions": get("spark.sql.shuffle.partitions"),
        "ui": get("spark.ui.enabled", "false"),
        "spark_version": spark.version,
        "nproc": NPROC,
    }


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the engine: the Python process plus its JVM."""
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)


def contention_probe(spark) -> float:
    """The fixed CPU-bound thunk ``bench.py`` brackets its rows with: no I/O,
    no shuffle. A slow probe marks a contended host window."""
    t0 = time.perf_counter()
    spark.range(50_000_000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (0 < q < 1) of a non-empty sample."""
    if len(values) == 1:
        return float(values[0])
    cuts = statistics.quantiles(values, n=1000, method="inclusive")
    return float(cuts[round(q * 1000) - 1])


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Tracer:
    """In-memory span recorder. Spans carry name, start, end, parent and
    trace id; they are written out once, when the run ends."""

    enabled: bool
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _trace: int = 0

    def new_trace(self) -> None:
        self._trace += 1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "trace": self._trace,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# Spark counters from public surfaces
# ---------------------------------------------------------------------------


@dataclass
class StageTotals:
    jobs: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def __iadd__(self, other: "StageTotals") -> "StageTotals":
        self.jobs += other.jobs
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        return self


_GROUP_IDS = itertools.count(1)


@contextmanager
def job_group(spark, label: str):
    """Tag the jobs run inside the block with a fresh job group and yield a
    :class:`StageTotals` that is filled in when the block exits."""
    sc = spark.sparkContext
    group = f"perfbench-{label}-{next(_GROUP_IDS)}"
    sc.setJobGroup(group, label)
    totals = StageTotals()
    try:
        yield totals
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        totals += stage_totals(spark, group)


def stage_totals(spark, group: str) -> StageTotals:
    """Job count and shuffle/spill bytes of one job group, from
    ``statusTracker`` and the application status store (live even with the
    UI off)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # not reachable on every build: settle by time
        time.sleep(0.2)
    store = jsc.statusStore()
    out = StageTotals()
    tracker = sc.statusTracker()
    for jid in tracker.getJobIdsForGroup(group):
        out.jobs += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # skipped stages have no attempt
                continue
            out.shuffle_write_bytes += int(st.shuffleWriteBytes())
            out.spill_bytes += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
    return out


def scanned_bytes(df) -> int:
    """Size of the files a scan reads, from ``DataFrame.inputFiles``. (The
    status store's stage ``inputBytes`` stays near zero for local parquet
    scans, so it is not used for this.)"""
    from urllib.parse import urlparse

    return sum(os.path.getsize(urlparse(f).path) for f in df.inputFiles())


def noop_write(df) -> None:
    """Materialize every column of ``df`` without keeping the result."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# The stand-in Elasticsearch endpoint
# ---------------------------------------------------------------------------


class EsStandin:
    """Client and owner of ``es_standin.py`` running in its own process."""

    def __init__(self) -> None:
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "es_standin.py")],
            stdout=subprocess.PIPE,
            text=True,
        )
        port = int(self.proc.stdout.readline())
        self.url = f"http://127.0.0.1:{port}"

    def _call(self, method: str, path: str):
        data = b"" if method == "POST" else None
        req = urllib.request.Request(self.url + path, method=method, data=data)
        with urllib.request.urlopen(req) as resp:
            return json.loads(resp.read())

    def stats(self) -> dict:
        return self._call("GET", "/_stats")

    def ids(self, index: str) -> dict[str, int]:
        """``_id`` → number of index actions received for it."""
        return self._call("GET", f"/_ids?index={index}")

    def arrivals(self, index: str) -> dict[str, float]:
        """``_id`` → wall-clock time its first copy arrived."""
        return self._call("GET", f"/_arrivals?index={index}")

    def layer_metrics(self, before: dict, after: dict) -> dict:
        """The ``es.*`` per-layer counters between two :meth:`stats` reads."""
        d = {k: after[k] - before[k] for k in after}
        return {
            "es.bulk_requests": d["requests"],
            "es.docs_posted": d["docs"],
            "es.bytes_posted": d["bytes"],
            "es.docs_per_request": d["docs"] / max(1, d["requests"]),
            "es.server_busy_s": d["busy_s"],
            "es.failed_requests": d["failed"],
        }

    def drop(self, index: str) -> None:
        self._call("POST", f"/_drop?index={index}")

    def close(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


# ---------------------------------------------------------------------------
# Closed-loop measurement
# ---------------------------------------------------------------------------


def closed_loop(seconds: float, op) -> tuple[list[float], int]:
    """One client: the next call of ``op`` starts when the previous one ends,
    until ``seconds`` have passed; a call is never cut short. ``op`` returns
    a list of ``(seconds, ok)``, one per operation. Returns the latencies and
    the number of failed operations."""
    lat: list[float] = []
    failed = 0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end:
        for took, ok in op():
            lat.append(took)
            failed += not ok
    return lat, failed


def measure_closed(bench, run, traced) -> dict:
    """Untraced: ``run`` for the whole window. Traced: ``run`` for the first
    half and ``traced`` for the second; the ratio of their median operation
    times is the tracing overhead. ``traced`` returns ``(ops, layers)``."""
    if not bench.trace:
        lat, failed = closed_loop(bench.seconds, run)
        return {"latencies": lat, "attempted": len(lat), "failed": failed, "layers": {}}
    lat, failed = closed_loop(bench.seconds / 2, run)
    layer_runs: list[dict] = []

    def op():
        ops, layers = traced()
        layer_runs.append(layers)
        return ops

    tlat, tfailed = closed_loop(bench.seconds / 2, op)
    layers = {
        k: statistics.median(r[k] for r in layer_runs) for k in layer_runs[0]
    }
    layers["trace.overhead_ratio"] = statistics.median(tlat) / statistics.median(lat) - 1
    return {
        "latencies": lat + tlat,
        "attempted": len(lat) + len(tlat),
        "failed": failed + tfailed,
        "layers": layers,
    }
