"""SparkSession factory with scale-aware defaults.

The reference builds bare sessions with zero tuning
(``/root/reference/eQRawToParquet.py:7``, ``sparktoELKstream.py:10-12``).
Here every session gets the settings that matter at 100 TB and are harmless
locally: AQE (runtime re-planning, skew-join splitting, partition
coalescing), UTC session time zone (required for DuckDB-oracle parity —
DuckDB timestamps are UTC-naive), Arrow for any pandas interchange, and a
shuffle-partition count sized to the machine rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Sized for local[N] testing; on a real cluster the submitter overrides
# shuffle partitions to ~2-3x total cores and lets AQE coalesce down.
_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_driver_memory() -> str:
    """Half the machine's physical memory, 1g to 48g. A heap larger than
    the machine is never collected before it outgrows RAM: on a 16 GB
    host a 48g heap grew past 13 GB of RSS and the JVM was killed."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "48g"
    return f"{max(1, min(48, total // 2**31))}g"


def get_spark(
    app_name: str = "egal-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Every conf here is also correct on a 1000-executor cluster; nothing is
    local-only magic. AQE handles runtime skew/coalesce, so a static
    ``shuffle_partitions`` only needs to be an upper bound.
    """
    cpus = shuffle_partitions or _DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        # local mode runs every executor thread inside the driver JVM,
        # whose default heap is 1g regardless of machine size — a 32-way
        # local session on a 128 GiB box OOMs on any memory-hungry stage
        # long before the machine does. Size the heap to the machine
        # (overridable; ignored with a warning if a JVM already exists).
        # On a real cluster the submitter sets executor/driver memory.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver testdata has shipped events.ts as INT64
        # TIMESTAMP(NANOS), which Spark's reader only accepts as a
        # nanos-long under this flag (sources/files.py normalizes it).
        # Set once at build time, not per read.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Streaming state: RocksDB scales far past the in-memory provider
        # for the dedup/update-state operators (SURVEY ST5).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Spark 4's DataFrame debugging wraps EVERY Python DataFrame/
        # Column API call with a call-site capture: a Python traceback
        # walk plus 2-3 extra py4j round trips per call (~3.5 ms each,
        # measured via cProfile on minhash_lsh_pairs' plan build). The
        # literal-heavy analytic plans here make tens of thousands of
        # such calls per suite run, so the decoration costs whole
        # seconds of driver time per query while only adding call-site
        # lines to error messages. Off by default for the engine; flip
        # it back on interactively when debugging a specific query.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{_DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
