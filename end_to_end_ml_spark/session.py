"""SparkSession factory tuned for both local testing and cluster scale.

Scale notes (100 TB design target):
- AQE enabled: runtime partition coalescing + skew-join splitting means the
  static ``shuffle.partitions`` only needs to be an upper bound.
- ``session.timeZone=UTC`` pinned so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for the few Pandas-UDF operators (similarity / multimodal).
- On a real cluster the same builder is used with ``master`` left to
  spark-submit; nothing here assumes local mode.
"""

from __future__ import annotations

import logging
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the default driver heap: this cap, or half the host's memory if smaller
DRIVER_MEM_CAP_MIB = 20 * 1024
# Default driver JVM flags, each keyed by the flag family a caller's own
# extraJavaOptions may set instead. The heap is GROW-ONLY: it starts at the
# JVM's default initial size and grows on demand, so a run commits and
# touches only what its live set needs (a pinned -Xms lets G1 spread eden
# over the whole committed heap, and the host must hold all of -Xmx).
# MaxHeapFreeRatio=100 stops G1 from shrinking the heap after a full GC or
# a remark: that uncommit and the re-fault after it, around the bench's
# per-query System.gc(), collapsed into all-core kernel-time storms under
# co-tenant CPU steal (OPTIMIZATION_r13.md, "Continuation session 3").
# The 512m code cache keeps the JIT compiling under
# codegen.cache.maxEntries=10000.
# 4m regions, with get_spark's 1m spark.broadcast.blockSize, keep Spark's
# per-task and per-stage buffers off G1's humongous path: a 1 MB task
# serialization or collect buffer and a 4 MB torrent-broadcast chunk are
# humongous (>= half a region) in the 1 MB regions a 2 GB heap gets by
# default. Past the occupancy threshold each one forces a young pause, and
# a lap of short back-to-back jobs packs them into bursts that G1 answers
# by growing the heap: in the tabular_ml perfbench lap on a 4-core host,
# 254 MB → 1,110 MB committed and a peak RSS median of 1.35 GB against
# 1.15 GB; with both settings the committed heap stayed at ~0.5 GB.
DRIVER_JAVA_OPTIONS = {
    "MaxHeapFreeRatio": "-XX:MaxHeapFreeRatio=100",
    "ReservedCodeCacheSize": "-XX:ReservedCodeCacheSize=512m",
    "G1HeapRegionSize": "-XX:G1HeapRegionSize=4m",
}

_log = logging.getLogger(__name__)


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap cap when neither the caller nor ``SPARK_GRAFT_DRIVER_MEM``
    sets one: min(20g, half of MemTotal), in MiB. Half leaves room for the
    JVM's off-heap use and the Python side. Without a readable ``meminfo``
    the 20g cap applies."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(DRIVER_MEM_CAP_MIB, int(line.split()[1]) // 2048)}m"
    except (OSError, ValueError):
        pass
    return f"{DRIVER_MEM_CAP_MIB}m"


def merge_driver_java_options(caller_jopts: str | None) -> str:
    """Caller ``spark.driver.extraJavaOptions`` merged with
    :data:`DRIVER_JAVA_OPTIONS`. Defaults are PREPENDED so caller flags stay
    authoritative (the JVM honours the last occurrence of a flag), and each
    default is dropped only when the caller sets that same flag family, so
    a caller adding an unrelated flag keeps every default."""
    cj = caller_jopts or ""
    parts = [flag for family, flag in DRIVER_JAVA_OPTIONS.items() if family not in cj]
    return " ".join(parts + [cj] if cj else parts)


def resolve_driver_memory(extra_conf: dict[str, str] | None) -> tuple[str, str]:
    """Driver heap size (-Xmx) and where it came from: an explicit
    extra_conf ``spark.driver.memory`` beats the ``SPARK_GRAFT_DRIVER_MEM``
    env setting, which beats the host-derived :func:`default_driver_memory`."""
    if mem := (extra_conf or {}).get("spark.driver.memory"):
        return mem, "extra_conf spark.driver.memory"
    if mem := os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return mem, "SPARK_GRAFT_DRIVER_MEM"
    return default_driver_memory(), "host default min(20g, MemTotal/2)"


def get_spark(
    app_name: str = "end_to_end_ml_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master=None`` defers to spark-submit / an existing session, so the same
    code runs on a 1000-executor cluster; tests pass ``local[N]`` explicitly.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not SparkSession.getActiveSession():
        master = f"local[{DEFAULT_CPUS}]"
    if master:
        builder = builder.master(master)
    # Driver heap cap (-Xmx; precedence in resolve_driver_memory): the
    # driver live set is bounded by (a) collect bounds — every driver-side
    # collect in the engine is capped (65536-row vocab/quantizer bounds,
    # 1-row aggregates), (b) broadcast relations (offsets/bounds tables,
    # all <= a few MB here; a deployment broadcasting 100s of MB should
    # grow the heap by ~3x the framed broadcast size for build + transport
    # copies), and (c) localCheckpoint block METADATA (the blocks live in
    # executor/block-manager memory — in local mode that is this same
    # heap, so the biggest checkpointed frame at the deployed SF sets the
    # floor: ~7 GB peak observed at sf0.1). 20g = observed peak x ~3
    # headroom. The heap only grows to what a run needs (see
    # DRIVER_JAVA_OPTIONS), so the cap need not fit in free memory.
    driver_mem, mem_source = resolve_driver_memory(extra_conf)
    driver_jopts = merge_driver_java_options(
        (extra_conf or {}).get("spark.driver.extraJavaOptions")
    )
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or DEFAULT_CPUS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # Pinned (not just Spark 4's default): several integer operators
        # (e.g. the DSIR score sum) rely on ANSI's loud ARITHMETIC_OVERFLOW
        # instead of a silent wrap for their correctness contract — a
        # deployment that disabled ANSI would trade those raises for
        # wrapped values, diverging from the DuckDB oracle's exact/erroring
        # arithmetic.
        "spark.sql.ansi.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # FAIR scheduling so concurrent tuner trials (train/tuner.py sets
        # spark.scheduler.pool per trial thread) share executors instead of
        # FIFO-starving each other; no effect on single-job workloads.
        "spark.scheduler.mode": "FAIR",
        "spark.ui.enabled": "false",
        "spark.driver.memory": driver_mem,
        # The default 100-entry codegen cache thrashes on this workload:
        # one heavy query alone compiles ~29 units/run at local[32] and a
        # session cycling many queries evicts everything, so every re-run
        # of every plan re-pays Janino + cold-JIT (measured: 23-29
        # recompiles per identical d16 re-run; 0 after raising the cap).
        "spark.sql.codegen.cache.maxEntries": "10000",
        # below half of DRIVER_JAVA_OPTIONS' 4m G1 region (see there)
        "spark.broadcast.blockSize": "1m",
    }
    conf.update(extra_conf or {})
    # merged, not replaced: a caller's unrelated flag keeps every default
    conf["spark.driver.extraJavaOptions"] = driver_jopts
    if SparkContext._active_spark_context is None:  # this call starts the JVM
        _log.info(
            "driver heap -Xmx%s from %s, grow-only; java options: %s",
            driver_mem, mem_source, driver_jopts,
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
