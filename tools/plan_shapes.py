"""Write or check plans/SHAPES.json, the plan-shape ledger: for every
registry query, the node counts of its AQE-off executed plan at sf0.001
(``plans.lint.plan_shape``: file scans per table, exchanges, joins,
Expand, Generate, windows, Python eval nodes, checkpoint leaves), one
line per query, plus the Spark version that planned them.

The plans come from the test suite's session (``local[4]``, 4 shuffle
partitions), so the counts are the ones
``tests/test_plan_lint.py::test_entire_registry_is_lint_clean`` compares
with the ledger. A change that changes a registry query's plan rewrites
the ledger in the same commit, and its diff is the plan evidence.

Usage:
  python tools/plan_shapes.py           # print the diff; exit 1 if any
  python tools/plan_shapes.py --write   # rewrite plans/SHAPES.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from __spark_entry__ import SMOKE_SF_DIR  # noqa: E402
from end_to_end_ml_spark.plans.lint import plan_shape  # noqa: E402
from end_to_end_ml_spark.session import get_spark  # noqa: E402

LEDGER = os.path.join(ROOT, "plans", "SHAPES.json")
WRITE_CMD = "python tools/plan_shapes.py --write"


def render(spark_version: str, shapes: dict[str, dict[str, int]]) -> str:
    """The ledger text: the Spark version, then one sorted line per query."""
    rows = ",\n".join(
        f"    {json.dumps(name)}: {json.dumps(shapes[name], sort_keys=True)}"
        for name in sorted(shapes)
    )
    return (
        f'{{\n  "spark_version": {json.dumps(spark_version)},\n'
        f'  "shapes": {{\n{rows}\n  }}\n}}\n'
    )


def shape_diff(
    recorded: dict[str, dict[str, int]], running: dict[str, dict[str, int]]
) -> list[str]:
    """One line per query whose counts differ, e.g.
    ``p15_profile_columns: Expand 0 → 1``; a query on one side only is
    named as such."""
    lines = []
    for name in sorted(recorded.keys() | running.keys()):
        if name not in running:
            lines.append(f"{name}: in the ledger, not in the registry")
        elif name not in recorded:
            lines.append(f"{name}: not in the ledger")
        else:
            old, new = recorded[name], running[name]
            changed = [
                f"{node} {old.get(node, 0)} → {new.get(node, 0)}"
                for node in sorted(old.keys() | new.keys())
                if old.get(node, 0) != new.get(node, 0)
            ]
            if changed:
                lines.append(f"{name}: " + ", ".join(changed))
    return lines


def ledger_report(
    ledger: dict, running: dict[str, dict[str, int]], spark_version: str
) -> str:
    """Empty when ``running`` matches the ledger; otherwise a message that
    names each differing query with its count diff, both Spark versions
    and the command that rewrites the ledger."""
    diff = shape_diff(ledger["shapes"], running)
    if not diff:
        return ""
    return (
        f"{len(diff)} registry queries differ from plans/SHAPES.json "
        f"(recorded on Spark {ledger['spark_version']}, running Spark "
        f"{spark_version}):\n  " + "\n  ".join(diff) + "\nIf the plan "
        f"change is intended, rewrite the ledger: {WRITE_CMD}"
    )


def main() -> int:
    ap = argparse.ArgumentParser(
        description="Check plans/SHAPES.json against the registry's plans."
    )
    ap.add_argument("--write", action="store_true", help="rewrite the ledger")
    args = ap.parse_args()

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    from end_to_end_ml_spark.plans.entry_queries import REGISTRY

    shapes = {
        name: plan_shape(fn(spark, SMOKE_SF_DIR))
        for name, (fn, _) in REGISTRY.items()
    }
    if args.write:
        with open(LEDGER, "w") as fh:
            fh.write(render(spark.version, shapes))
        print(f"wrote {LEDGER}: {len(shapes)} queries")
        return 0
    with open(LEDGER) as fh:
        report = ledger_report(json.load(fh), shapes, spark.version)
    print(report or f"{LEDGER} matches all {len(shapes)} registry queries")
    return 1 if report else 0


if __name__ == "__main__":
    sys.exit(main())
