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

import functools
import logging
import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the default driver heap: this cap, or half the host's memory if smaller
DRIVER_MEM_CAP_MIB = 20 * 1024

_log = logging.getLogger(__name__)


@functools.lru_cache(maxsize=None)
def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap when neither the caller nor ``SPARK_GRAFT_DRIVER_MEM``
    sets one: min(20g, half of MemTotal), in MiB. The heap is pinned
    (-Xms), so a fixed 20g cannot start a JVM on a host with less memory;
    half leaves room for the JVM's off-heap use and the Python side.
    Without a readable ``meminfo`` the 20g cap applies. The choice is
    logged once per process."""
    total_kib = None
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kib = int(line.split()[1])
                    break
    except (OSError, ValueError):
        pass
    if total_kib is None:
        mem = f"{DRIVER_MEM_CAP_MIB}m"
        _log.warning("driver memory %s: no MemTotal in %s", mem, meminfo)
    else:
        mem = f"{min(DRIVER_MEM_CAP_MIB, total_kib // 2048)}m"
        _log.info(
            "driver memory %s: min(%d MiB cap, half of MemTotal %d KiB)",
            mem, DRIVER_MEM_CAP_MIB, total_kib,
        )
    return mem


def merge_driver_java_options(driver_mem: str, caller_jopts: str | None) -> str:
    """Merge caller ``spark.driver.extraJavaOptions`` with the fixed-heap
    floor (``-Xms`` == driver memory; see the conf comment in get_spark).

    Defaults are PREPENDED so caller flags stay authoritative (the JVM
    honours the last occurrence of a flag). Each default is dropped only
    when the caller sets that same flag family itself, so a caller adding
    an unrelated flag (e.g. a GC option) keeps BOTH the heap floor and the
    code-cache sizing (r13 ADVICE: the old merge dropped
    ReservedCodeCacheSize whenever any caller flag was present, risking
    JIT code-cache exhaustion under codegen.cache.maxEntries=10000)."""
    cj = caller_jopts or ""
    parts = []
    if "-Xms" not in cj:
        parts.append(f"-Xms{driver_mem}")
    if "ReservedCodeCacheSize" not in cj:
        parts.append("-XX:ReservedCodeCacheSize=512m")
    if cj:
        parts.append(cj)
    return " ".join(parts)


def resolve_driver_memory(extra_conf: dict[str, str] | None) -> str:
    """Driver heap size with the precedence the -Xms floor must follow:
    an explicit extra_conf ``spark.driver.memory`` beats the
    ``SPARK_GRAFT_DRIVER_MEM`` env setting, which beats the host-derived
    :func:`default_driver_memory`, so the fixed-heap floor built from
    this value can never exceed the caller's -Xmx."""
    mem = (extra_conf or {}).get("spark.driver.memory") or os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM"
    )
    return mem or default_driver_memory()


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
    # Driver heap sizing rule (SPARK_GRAFT_DRIVER_MEM, default 20g capped
    # at half the host's memory, see default_driver_memory): the
    # driver live set is bounded by (a) collect bounds — every driver-side
    # collect in the engine is capped (65536-row vocab/quantizer bounds,
    # 1-row aggregates), (b) broadcast relations (offsets/bounds tables,
    # all <= a few MB here; a deployment broadcasting 100s of MB should
    # grow the heap by ~3x the framed broadcast size for build + transport
    # copies), and (c) localCheckpoint block METADATA (the blocks live in
    # executor/block-manager memory — in local mode that is this same
    # heap, so the biggest checkpointed frame at the deployed SF sets the
    # floor: ~7 GB peak observed at sf0.1). 20g = observed peak x ~3
    # headroom. -Xms is pinned to the same value (see extraJavaOptions
    # comment below), so the host must actually HAVE this much memory
    # free: the default never asks for more than half of MemTotal, and
    # SPARK_GRAFT_DRIVER_MEM overrides it either way.
    # An extra_conf override of spark.driver.memory takes precedence so
    # the -Xms floor can never exceed -Xmx (r13 ADVICE: a caller passing
    # driver.memory=8g used to still get -Xms20g and fail JVM startup).
    driver_mem = resolve_driver_memory(extra_conf)
    driver_jopts = merge_driver_java_options(driver_mem, None)
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
        # FIXED-SIZE heap (-Xms == -Xmx), mirroring what Spark itself does
        # for executor JVMs. Measured on this box (r13 optimization round):
        # with the default tiny -Xms, every full GC (the bench's per-query
        # ContextCleaner nudge) uncommits the heap back to ~2.5 GB and the
        # next heavy query re-faults 5-50 GB of pages — 1-2M page faults
        # per run whose munmap/mmap TLB shootdowns collapse into 10-60 s
        # ALL-CORE kernel-time storms under co-tenant CPU steal (sys ~30
        # cores, user ~1 core in /proc/stat during the stalls). Pinning
        # Xms=Xmx removes the heap commit/uncommit churn entirely: d16
        # reps went from [6.2..21.9] scatter to [5.0..5.9] steady state.
        # The default is sized to observed live sets (~7 GB peak at
        # sf0.1), not the machine, and stays env-tunable for bigger jobs.
        "spark.driver.extraJavaOptions": driver_jopts,
        # The default 100-entry codegen cache thrashes on this workload:
        # one heavy query alone compiles ~29 units/run at local[32] and a
        # session cycling many queries evicts everything, so every re-run
        # of every plan re-pays Janino + cold-JIT (measured: 23-29
        # recompiles per identical d16 re-run; 0 after raising the cap).
        "spark.sql.codegen.cache.maxEntries": "10000",
    }
    if extra_conf:
        caller_jopts = extra_conf.get("spark.driver.extraJavaOptions")
        if caller_jopts:
            # merge rather than replace so callers adding e.g. a code-cache
            # flag don't silently drop the fixed-heap floor
            extra_conf = dict(extra_conf)
            extra_conf["spark.driver.extraJavaOptions"] = (
                merge_driver_java_options(driver_mem, caller_jopts)
            )
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
