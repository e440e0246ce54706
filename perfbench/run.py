#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload quake_batch_load --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each workload runs in one process: set-up
(session start, seeded input generation, warm-up) is timed as ``setup_s``,
then the workload is measured for ``--seconds``, its outputs are checked,
and the last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones plus the tracing overhead and writes the
spans under ``.perfbench_out/``. ``--workload all`` runs every workload in
turn, each in its own process. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Outside a checkout of the engine this import fails, and the run exits
# non-zero before printing any result.
import egal_yet_another_earthquake_project_spark  # noqa: E402,F401

import harness  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCHMARK = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]
UNITS = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]}

#: Input sizes per scale. ``tiny`` is the self-test size.
SCALES = {
    "full": {
        "batch_events": 15_000,
        "stream_rate": 1_000,
        "stream_burst": 20_000,
        "dash_events": 8_000,
        "curate_docs": 2_000,
    },
    "tiny": {
        "batch_events": 15_000,
        "stream_rate": 200,
        "stream_burst": 1_000,
        "dash_events": 2_000,
        "curate_docs": 300,
    },
}


@dataclass
class Bench:
    """What a workload needs from the run: its session, the stand-in sink,
    the tracer and the run's arguments."""

    seed: int
    seconds: float
    trace: bool
    workdir: str
    scale: dict
    nproc: int = harness.NPROC
    spark: object = None
    es: harness.EsStandin | None = None
    tracer: harness.Tracer = field(default_factory=lambda: harness.Tracer(False))


def make_workload(name: str, bench: Bench):
    if name == "quake_batch_load":
        from batch_load import BatchLoad
        from dashboard_reads import DashboardReads

        dashboard = None
        if bench.trace:
            dashboard = DashboardReads(bench, bench.scale["dash_events"], bench.scale["curate_docs"])
        return BatchLoad(bench, bench.scale["batch_events"], dashboard)
    if name == "quake_stream_ingest":
        from stream_ingest import StreamIngest

        return StreamIngest(bench, bench.scale["stream_rate"], bench.scale["stream_burst"])
    raise SystemExit(f"unknown workload {name!r}")


def run_one(args) -> int:
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    bench = Bench(
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        workdir=workdir,
        scale=SCALES[args.scale],
        tracer=harness.Tracer(bool(args.trace)),
    )
    try:
        return _run(bench, args)
    finally:
        if bench.es is not None:
            bench.es.close()
        if bench.spark is not None:
            harness.stop_session(bench.spark)
        shutil.rmtree(workdir, ignore_errors=True)


def _run(bench: Bench, args) -> int:
    t_setup = time.perf_counter()
    # The JVM boots in a thread while this one generates the inputs.
    box: dict = {}

    def boot() -> None:
        try:
            box["spark"] = harness.start_session(bench.workdir)
            box["session_s"] = time.perf_counter() - t_setup
        except BaseException as exc:  # re-raised in the main thread
            box["error"] = exc

    booter = threading.Thread(target=boot, daemon=True)
    booter.start()
    try:
        wl = make_workload(args.workload, bench)
        bench.es = harness.EsStandin()
        wl.generate()
        generate_s = time.perf_counter() - t_setup
    finally:
        booter.join()
        bench.spark = box.get("spark")
    if "error" in box:
        raise box["error"]
    t_warm = time.perf_counter()
    wl.warmup()
    harness.contention_probe(bench.spark)  # its own first run is cold
    setup_s = time.perf_counter() - t_setup
    setup_parts = {
        "session_s": box["session_s"],
        "generate_s": generate_s,
        "warmup_s": time.perf_counter() - t_warm,
    }

    result = wl.measure()
    probe_s = harness.contention_probe(bench.spark)
    rss = harness.peak_rss_mb(bench.spark)

    attempted, failed = result["attempted"], result["failed"]
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "session": harness.session_record(bench.spark),
        "setup_parts_s": setup_parts,
        "contention_probe_s": probe_s,
        "error_ratio": failed / max(1, attempted),
        "named": result["named"],
        "samples_ms": [x * 1000 for x in result.get("latencies", [])],
        "batch_ms": result.get("batch_ms", []),
    }
    if bench.trace:
        produced = set(wl.LAYERS) | {"trace.overhead_ratio", "host.probe_s"}
        layers = dict(result["layers"], **{"host.probe_s": probe_s})
        if set(layers) != produced:
            raise RuntimeError(
                f"{args.workload} produced layers {sorted(set(layers) ^ produced)} against its declaration"
            )
        # Every per-layer name must be in a traced result; those this
        # workload does not touch read 0 and are listed in the result file.
        chosen = {m["name"]: 0.0 for m in BENCHMARK["per_layer"]}
        chosen.update(layers)
        context["layers_produced"] = sorted(produced)
        trace_path = os.path.join(
            ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json"
        )
        bench.tracer.write(trace_path)
        context["spans"] = os.path.relpath(trace_path, ROOT)
    else:
        chosen = dict(result["e2e"], setup_s=setup_s, peak_rss_mb=rss)
    metrics = {
        name: {"value": float(value), "unit": UNITS[name]} for name, value in chosen.items()
    }
    context["metrics"] = metrics
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(context, fh, indent=1)

    for name, (value, unit) in result["named"].items():
        print(f"{args.workload} {name} = {value:.4f} {unit}")
    print(f"{args.workload} peak_rss_mb = {rss:.1f} MB")
    print(f"{args.workload} error_ratio = {context['error_ratio']:.4f} ({failed}/{attempted})")
    print(f"{args.workload} contention_probe_s = {probe_s:.3f}")
    print(f"{args.workload} setup_parts_s = {json.dumps(setup_parts)}")
    print(f"{args.workload} session = {json.dumps(context['session'])}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


def run_all(args) -> int:
    """Every workload in turn, each in its own process; the last line sums
    the counts and keys each metric by workload."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"{name} exited with {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for metric, body in res["metrics"].items():
            total["metrics"][f"{name}.{metric}"] = body
    print(json.dumps(total), flush=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=BENCHMARK["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
