"""Optimization probe: time individual registry queries in a
bench-identical session (same conf as bench.py) and/or write their
``explain("formatted")`` plans to <DIR>/<query>.txt.

Usage:
  python tools/opt_probe.py --reps 5 q1_pricing_summary d16_prefix_filter_jaccard
  python tools/opt_probe.py --plan /tmp/plans_before d16_prefix_filter_jaccard
  python tools/opt_probe.py --reps 5 --plan /tmp/plans_after d16_prefix_filter_jaccard

With --reps N each query runs N noop-forced executions and prints every
rep plus the min (the bench statistic). With --plan DIR the formatted
plan is written to DIR/<name>.txt (per-query node counts of the whole
registry are in plans/SHAPES.json, see tools/plan_shapes.py). Alternating
A/B across two working trees is done by running this twice from different
checkouts, for plans into two directories; within-session rep lists make
warm-up slope visible either way.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_CONF  # noqa: E402
from end_to_end_ml_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=0)
    ap.add_argument("--plan", default=None, metavar="DIR")
    ap.add_argument("--json", action="store_true", help="print one JSON line")
    args = ap.parse_args()

    spark = get_spark(
        "opt-probe",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf=BENCH_CONF,
    )
    from end_to_end_ml_spark.plans.entry_queries import REGISTRY

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    results: dict[str, dict] = {}
    for name in args.queries:
        fn = REGISTRY[name][0]
        if args.plan:
            os.makedirs(args.plan, exist_ok=True)
            df = fn(spark, SF_DIR)
            path = os.path.join(args.plan, f"{name}.txt")
            with open(path, "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                    df._jdf.queryExecution(), "formatted"
                ))
            print(f"[plan] wrote {path}", file=sys.stderr)
        if args.reps > 0:
            spark.sparkContext.setJobDescription(f"probe:{name}")
            reps = []
            for _ in range(args.reps):
                t0 = time.perf_counter()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                reps.append(round(time.perf_counter() - t0, 3))
                spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)
            spark._jvm.System.gc()
            results[name] = {"reps": reps, "min": min(reps)}
            if not args.json:
                print(f"{name}: min={min(reps)} reps={reps}")
    if args.json and results:
        print(json.dumps({"sf_dir": SF_DIR, "cpus": CPUS, "probe": results}))


if __name__ == "__main__":
    main()
