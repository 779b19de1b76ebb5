"""Host sizing, Spark settings and the arithmetic the benchmark reports.

Nothing here needs environment variables: the session is sized from the
host (``/proc/meminfo``, the CPUs this process may use) and every file the
run writes stays under the checkout's output directory.
"""

from __future__ import annotations

import os

import numpy as np

OUT_DIRNAME = ".perfbench_out"
# a copy of the sf0.01 test tables (TESTDATA.md) the oracle checks run on,
# kept with the benchmark so a run reads nothing outside its checkout
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError(f"no MemTotal in {meminfo}")


def heap_size(total_bytes: int) -> str:
    """An eighth of physical memory, clamped to [1g, 4g], in MiB. Derived
    from MemTotal (not MemAvailable) so the heap is the same on every run."""
    mib = total_bytes // (8 * 1024 * 1024)
    return f"{max(1024, min(4096, mib))}m"


def spark_conf(out_dir: str, run_dir: str, traced: bool) -> dict[str, str]:
    """``extra_conf`` for ``get_spark``. The program's session derives its
    fixed ``-Xms`` heap floor from ``spark.driver.memory``, so sizing it
    here keeps the heap inside the host. Scratch files go under ``run_dir``
    (removed after the run); JVM crash logs go to ``out_dir``, which
    outlives it."""
    conf = {
        "spark.driver.memory": heap_size(mem_total_bytes()),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-XX:ErrorFile={out_dir}/hs_err_pid%p.log"
            f" -Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData"
        ),
    }
    if traced:
        # keep every job and stage of a run in the status store, so no
        # span's stages are evicted before the tracer reads them
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    return conf


def sample_ids(seed: int, ids: list, k: int) -> list:
    """Seeded sample of ``k`` distinct items of ``ids``, in ``ids`` order."""
    rng = np.random.default_rng([seed, 3])
    picks = rng.choice(len(ids), size=min(k, len(ids)), replace=False)
    return [ids[i] for i in sorted(int(i) for i in picks)]


def failed_frac(attempted: int, failed: int) -> float:
    """Failed calls into the program over attempted ones."""
    if attempted <= 0:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
