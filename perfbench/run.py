"""Benchmark entry point.

    python3 perfbench/run.py --workload tabular_ml --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One process (and one Spark JVM) per
workload run:

1. compute the oracles over the inputs in ``perfbench/data`` (untimed,
   cached under ``.perfbench_out/inputs`` with the reference outputs of the
   first run);
2. start the program's session sized to the host (``setup_s`` ends here);
3. time laps until ``--seconds`` have passed (at least one; a lap of either
   workload is longer than the configured ``run_seconds``, so a run times
   one lap in a fresh session), checking every lap's outputs; between laps
   the SQL cache is cleared, so operators that persist pay for it on every
   lap;
4. run the checks that need extra Spark jobs, stop the JVM, print each
   metric as ``name: value unit`` and, as the last line, the JSON result.
   A failed check makes ``correct`` false and the exit code 1.

``--trace 1`` runs the same laps with spans on and reports the per-layer
metrics instead: per layer the median over laps of its self time and
counters, the scan amplification, the traced lap time (``trace.run_s``, to
set against an untraced run's ``run_s``) and the tracer's own bookkeeping
time per lap (``trace.overhead_s``). The spans go to
``.perfbench_out/spans/<run>.json``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[1:1] = [ROOT, os.path.join(ROOT, "tools")]

import harness  # noqa: E402

WORKLOADS = {"tabular_ml": "wl_tabular", "llm_curation": "wl_curation"}
LAYERS = [
    "sources",
    "plans",
    "operators.prep",
    "operators.split",
    "features",
    "train",
    "functions.metrics",
    "serving",
    "curate",
    "operators.dedup",
    "operators.similarity",
]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepared_inputs(mod, out_dir: str, threads: int) -> tuple[str, dict]:
    """Oracles for ``mod``'s workload, reused when the same benchmark code,
    inputs and registry SQL made them before. Returns the cache directory,
    which also keeps the reference outputs of the first run."""
    h = hashlib.sha1()
    sources = sorted(glob.glob(os.path.join(HERE, "*.py")))
    sources += sorted(glob.glob(os.path.join(harness.DATA_DIR, "*.parquet")))
    sources.append(os.path.join(ROOT, "end_to_end_ml_spark", "plans", "entry_queries.py"))
    for path in sources:
        with open(path, "rb") as f:
            h.update(f.read())
    cache_dir = os.path.join(out_dir, "inputs", f"{mod.__name__}-{h.hexdigest()[:12]}")
    meta = os.path.join(cache_dir, "prepared.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return cache_dir, json.load(f)
    shutil.rmtree(cache_dir, ignore_errors=True)
    os.makedirs(cache_dir)
    prepared = mod.prepare(harness.DATA_DIR, threads)
    with open(meta + ".tmp", "w") as f:
        json.dump(prepared, f)
    os.replace(meta + ".tmp", meta)
    return cache_dir, prepared


def main(argv=None) -> int:
    args = parse_args(argv)
    # the program first: without it there is nothing to measure
    from end_to_end_ml_spark.session import get_spark

    mod = importlib.import_module(WORKLOADS[args.workload])
    import spans

    out_dir = os.path.join(ROOT, harness.OUT_DIRNAME)
    run_dir = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # keep every scratch file of this process, Spark's launcher JVM and
    # Spark's Python workers inside the run directory
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    n_cpus = harness.cpus()
    traced = bool(args.trace)

    t = time.perf_counter()
    import_s = t - T0
    cache_dir, prepared = prepared_inputs(mod, out_dir, n_cpus)
    ref_path = os.path.join(cache_dir, "reference.json")
    prep_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}",
        master=f"local[{n_cpus}]",
        shuffle_partitions=n_cpus,
        extra_conf=harness.spark_conf(out_dir, run_dir, traced),
    )
    session_s = time.perf_counter() - t
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        tracer = spans.Tracer(spark, traced, T0)
        wl = mod.Workload(spark, tracer, run_dir, prepared, args.seed)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                wl.reference = json.load(f)
        setup_s = time.perf_counter() - T0 - prep_s

        problems: list[str] = []
        attempted = failed = 0
        lap_s: list[float] = []
        t_run = time.perf_counter()
        while not failed and (not lap_s or time.perf_counter() - t_run < args.seconds):
            tracer.lap = len(lap_s)
            attempted += wl.ops_per_lap()
            t = time.perf_counter()
            try:
                # root span of the lap: its self time is the benchmark's own
                # glue between calls, its jobs those no layer call launched
                with tracer.span("lap", spans.ROOT_LAYER):
                    out = wl.lap()
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                problems.append(f"lap raised {type(e).__name__}: {e}")
            else:
                lap_s.append(time.perf_counter() - t)
                problems.extend(wl.check(out))
                spark.catalog.clearCache()
            # calls the lap did not complete: the one that raised and the
            # ones after it
            failed = attempted - tracer.completed
        tracer.enabled = False
        rss = harness.peak_rss_mb(jvm_pid)
        if not failed:
            problems.extend(wl.final_check())
        if not problems and wl.reference is not None and not os.path.exists(ref_path):
            with open(ref_path + ".tmp", "w") as f:
                json.dump(wl.reference, f)
            os.replace(ref_path + ".tmp", ref_path)
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    if failed:
        metrics = {}
    elif traced:
        metrics = layer_metrics(tracer, n_cpus, prepared["oracle"]["n_input_rows"])
        metrics["session.wall_s"] = (session_s, "s")
        metrics["trace.run_s"] = (statistics.median(lap_s), "s")
        spans_dir = os.path.join(out_dir, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.write(os.path.join(spans_dir, f"{os.path.basename(run_dir)}.json"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "run_s": (statistics.median(lap_s), "s"),
            "peak_rss_mb": (rss, "MB"),
        }

    for name, (value, unit) in metrics.items():
        print(f"{name}: {value:.6g} {unit}")
    print(f"setup parts: imports {import_s:.3f} s, session {session_s:.3f} s, oracles {prep_s:.3f} s")
    print(f"laps: {len(lap_s)}  failed_frac: {harness.failed_frac(attempted, failed):.6g}")
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if not problems else 1


def layer_metrics(tracer, n_cpus: int, n_input_rows: int) -> dict:
    """Per-layer medians over the traced laps, the scan amplification and
    the tracer's own time per lap."""
    import spans

    laps = [[s for s in tracer.spans if s["lap"] == i] for i in tracer.laps()]
    per_lap = [spans.layer_totals(lap, LAYERS, n_cpus) for lap in laps]
    metrics = {k: (statistics.median([p[k] for p in per_lap]), _unit(k)) for k in per_lap[0]}
    scanned = [sum(s["scan_rows"] for s in lap) for lap in laps]
    metrics["sources.scan_amplification"] = (statistics.median(scanned) / n_input_rows, "ratio")
    metrics["trace.overhead_s"] = (
        statistics.median([tracer.overhead_s.get(i, 0.0) for i in tracer.laps()]),
        "s",
    )
    return metrics


def _unit(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    if key.endswith("_bytes"):
        return "bytes"
    if key.endswith("floor_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
