"""Local replica of the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB over the same sf dir; compare row count,
schema (column names), and order-insensitive values.

Usage: python tools/check_oracle.py [--window] [--json OUT.json] [sf_dir] [query ...]
(see --help). The command line is parsed before Spark starts, and a query
name that is not in the registry is an error.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from end_to_end_ml_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v)
    if isinstance(v, int):
        return int(v)
    return str(v)


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def main(argv=None):
    ap = argparse.ArgumentParser(
        description="Compare registry queries on Spark against their DuckDB oracles."
    )
    ap.add_argument(
        "sf_dir", nargs="?", default="/root/testdata/sf0.01",
        help="directory of the parquet tables (default: the sf0.01 test data)",
    )
    ap.add_argument("queries", nargs="*", help="registry names (default: all)")
    ap.add_argument(
        "--window", action="store_true",
        help="check the driver's 50-slot DRIVER_WINDOW snapshot",
    )
    ap.add_argument(
        "--json", metavar="OUT", help="write the per-query result map to OUT",
    )
    args = ap.parse_intermixed_args(argv)
    unknown = [n for n in args.queries if n not in entry_mod.queries()]
    if unknown:
        ap.error(f"not registry queries: {' '.join(unknown)}")
    window_only, json_out, sf_dir = args.window, args.json, args.sf_dir
    only = set(args.queries)
    if window_only:
        # replicate exactly the driver's snapshot: the first 50 registry
        # entries (== DRIVER_WINDOW by construction)
        from end_to_end_ml_spark.plans.entry_queries import DRIVER_WINDOW

        only = set(DRIVER_WINDOW)
        # On an sf0.1 dir, auto-skip (and RECORD) window entries whose
        # DuckDB oracle is quadratic — operationalized like the cohort
        # rule: duck_s > 5 s at sf0.01 in the latest committed
        # full-registry artifact (~100x at sf0.1 ⇒ hours). The r13 window
        # sweep sat >50 min inside d8's brute-force cross join before
        # this guard existed; those queries' sf0.1-derived evidence is
        # the sampled-corpus artifact (tools/sample_corpus.py), so the
        # skip is loud in the JSON, never silent.
        skipped_slow: dict[str, float] = {}
        if "sf0.1" in os.path.normpath(sf_dir):
            import glob
            import re

            root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            locals_ = sorted(
                glob.glob(os.path.join(root, "CHECK_ORACLE_LOCAL_r*.json")),
                key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)),
            )
            if locals_:
                with open(locals_[-1]) as f:
                    res = json.load(f).get("results", {})
                skipped_slow = {
                    n: res[n].get("duck_s")
                    for n in sorted(only)
                    if (res.get(n, {}).get("duck_s") or 0) > 5
                }
                only -= set(skipped_slow)
                for n, ds in skipped_slow.items():
                    print(
                        f"SKIP {n}: quadratic DuckDB oracle at sf0.1 "
                        f"(duck_s {ds}s at sf0.01) — evidence is the "
                        "sampled-corpus artifact"
                    )
    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    ran = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            results[name] = {"ok": False, "err": f"spark: {e}"}
            continue
        spark_s = round(time.monotonic() - t0, 3)
        if name not in oracles:
            print(f"PASS(rows-only) {name}: {len(s_rows)} rows")
            results[name] = {
                "ok": True, "oracled": False, "rows": len(s_rows), "spark_s": spark_s,
            }
            continue
        t0 = time.monotonic()
        try:
            rel = con.sql(oracles[name])
            d_cols = rel.columns
            d_rows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            results[name] = {"ok": False, "err": f"duckdb: {e}"}
            continue
        duck_s = round(time.monotonic() - t0, 3)
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"schema: spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount: spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            ms, md = rows_to_multiset(s_cols, s_rows), rows_to_multiset(d_cols, d_rows)
            if ms != md:
                diff = [(a, b) for a, b in zip(ms, md) if a != b][:3]
                problems.append(f"values: first diffs {diff}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
            results[name] = {"ok": False, "err": "; ".join(problems)[:500]}
        else:
            print(f"PASS {name}: {len(s_rows)} rows")
            results[name] = {
                "ok": True, "oracled": True, "rows": len(s_rows),
                "spark_s": spark_s, "duck_s": duck_s,
            }
    print(f"\n{ran - len(failures)}/{ran} pass")
    if json_out:
        payload = {
            "sf_dir": sf_dir,
            "ran": ran,
            "passed": ran - len(failures),
            "results": results,
        }
        if window_only and skipped_slow:
            payload["skipped_slow_oracle"] = {
                n: {
                    "duck_s_at_sf001": ds,
                    "evidence": "sampled-corpus artifact (tools/sample_corpus.py)",
                }
                for n, ds in skipped_slow.items()
            }
        with open(json_out, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
