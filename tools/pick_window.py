"""Deterministic driver-window rotation policy (round-7 verdict #2).

The driver's correctness snapshot covers the FIRST 50 registry entries
(= DRIVER_WINDOW). This tool makes the per-round re-pick a PURE FUNCTION
of (round number, committed CORRECTNESS_r*.json artifacts,
DRIVER_LEDGER.json, the live registry), so every oracled query gets
driver exposure within a bounded number of rounds and the pick is
auditable after the fact:

1. FORCED: queries with a red row (rows/schema/hash false, or err) in
   the latest committed artifact stay in the window until proven green.
2. Priority tiers over the remaining oracled queries:
     T1  never driver-exposed, newest registration round first
         (a query enters the ledger the round it is registered)
     T2  previously exposed, by (exposure count asc, last round asc)
   Ties inside a tier break by md5(f"r{N}:{name}") — a per-round
   deterministic shuffle, so tail names cannot starve behind a fixed
   lexicographic order.
3. T1 (never driver-exposed) is taken UNCONDITIONALLY, capacity
   permitting: a first driver exposure is strictly scarcer evidence
   than a re-check of a family that already has green driver rows,
   so the family guard never bumps a T1 query (round-9 policy
   amendment — with 44 never-exposed and 13 families uncovered by
   them, the old guard capped first exposures at 37/50 and pushed
   full coverage a round later).
4. T2 fill with a family-coverage guard: when free slots <= number
   of still-uncovered families (family = leading alphabetic prefix
   of the first name segment, e.g. ts4b -> ts, fn_map_suite -> fn),
   only T2 queries from uncovered families are accepted. Whenever
   T1 does not crowd them out, every operator family appears in the
   window; if T1 is large the guard is best-effort (the bumped
   families all have prior green driver rows by definition).

Latency bound: with W=50 slots, each round exposes min(|never-checked|,
W - |forced|) never-checked queries, so a query waits at most
ceil(|never-checked| / W) rounds for its first driver row (forced reds
are themselves window members, so they never shrink capacity below
W - 50 = 0 in practice).

Usage:
  python tools/pick_window.py --round 8             # print the 50-name window
  python tools/pick_window.py --round 8 --update-ledger  # stamp new names
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(ROOT, "DRIVER_LEDGER.json")
WINDOW_SIZE = 50


def family(name: str) -> str:
    return re.match(r"^[a-z]+", name.split("_")[0]).group()


def load_ledger() -> dict:
    if os.path.exists(LEDGER):
        with open(LEDGER) as f:
            return json.load(f)
    return {}


def artifact_exposures() -> tuple[dict[str, list[int]], dict[str, int]]:
    """name -> sorted rounds with a driver row; name -> latest-round
    red flag (1 if the newest artifact containing the name was red)."""
    exposures: dict[str, list[int]] = {}
    latest_red: dict[str, int] = {}
    latest_round = 0
    arts = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            arts[rnd] = json.load(f)
        latest_round = max(latest_round, rnd)
    for rnd, art in arts.items():
        for name, row in art.items():
            exposures.setdefault(name, []).append(rnd)
    for name in exposures:
        exposures[name].sort()
    if latest_round:
        for name, row in arts[latest_round].items():
            ok = (
                row.get("rows_match")
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            latest_red[name] = 0 if ok else 1
    return exposures, latest_red


def priority_tiers(round_n: int, names: list[str], ledger: dict, exposures: dict):
    """``names`` as the policy's sorted tiers (T1, T2); see the module
    docstring, step 2."""

    def tiebreak(name: str) -> str:
        return hashlib.md5(f"r{round_n}:{name}".encode()).hexdigest()

    t1 = [n for n in names if n not in exposures]
    t2 = [n for n in names if n in exposures]
    t1.sort(key=lambda n: (-ledger.get(n, {}).get("first_seen_round", 0), tiebreak(n)))
    t2.sort(key=lambda n: (len(exposures[n]), exposures[n][-1], tiebreak(n)))
    return t1, t2


def pick(round_n: int, update_ledger: bool = False) -> list[str]:
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry  # noqa: E402

    oracled = list(entry.oracle_sql())
    ledger = load_ledger()
    changed = False
    for name in entry.queries():
        if name not in ledger:
            ledger[name] = {"first_seen_round": round_n}
            changed = True
    if update_ledger and changed:
        with open(LEDGER, "w") as f:
            json.dump(ledger, f, indent=1, sort_keys=True)
    exposures, latest_red = artifact_exposures()

    forced = [n for n in oracled if latest_red.get(n)]
    rest = [n for n in oracled if n not in forced]
    t1, t2 = priority_tiers(round_n, rest, ledger, exposures)

    all_families = {family(n) for n in oracled}
    window: list[str] = list(forced)[:WINDOW_SIZE]
    # T1 unconditionally: first exposure outranks family re-coverage.
    for n in t1:
        if len(window) >= WINDOW_SIZE:
            break
        window.append(n)
    covered = {family(n) for n in window}
    # T2 fill with the family guard (uncovered families claim the last
    # free slots; best-effort when T1 left fewer slots than families).
    skipped: list[str] = []
    for n in t2:
        free = WINDOW_SIZE - len(window)
        if free <= 0:
            break
        uncovered = all_families - covered
        if free <= len(uncovered) and family(n) in covered:
            skipped.append(n)
            continue
        window.append(n)
        covered.add(family(n))
    for n in skipped:
        if len(window) >= WINDOW_SIZE:
            break
        window.append(n)
    assert len(window) == WINDOW_SIZE, len(window)
    # Full family coverage is guaranteed whenever T1 left enough room;
    # otherwise best-effort (every bumped family has prior green rows).
    t1_in_window = sum(1 for n in window if n in set(t1))
    if len(forced) + t1_in_window + len(all_families - {family(n) for n in forced + t1}) <= WINDOW_SIZE:
        assert {family(n) for n in window} == all_families
    return window


def cohort2(round_n: int, cohort_n: int = 2) -> list[str]:
    """The Nth 50-query sf0.1 sweep cohort (round-9 verdict #7 introduced
    cohort 2; round 10 generalized the slice): names 50*(N-2)..50*(N-1)
    of the same priority order after the driver window, excluding (a)
    everything pick(round_n) already covers and (b) queries whose DuckDB
    oracle is quadratic at scale — operationalized as duck_s > 5 s at
    sf0.01 in the latest committed CHECK_ORACLE_LOCAL artifact (those
    oracles are brute-force cross joins that cost ~100x at sf0.1; the
    Spark side is sublinear and already covered by the sf0.01
    full-registry run). The final cohort may be shorter than 50 (the
    priority list is finite); callers report the actual length."""
    window = set(pick(round_n))
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry  # noqa: E402

    oracled = list(entry.oracle_sql())
    exposures, _ = artifact_exposures()
    slow_oracle: set[str] = set()
    locals_ = sorted(glob.glob(os.path.join(ROOT, "CHECK_ORACLE_LOCAL_r*.json")))
    if locals_:
        with open(locals_[-1]) as f:
            res = json.load(f).get("results", {})
        slow_oracle = {n for n, r in res.items() if (r.get("duck_s") or 0) > 5}
    rest = [n for n in oracled if n not in window and n not in slow_oracle]
    t1, t2 = priority_tiers(round_n, rest, load_ledger(), exposures)
    lo = WINDOW_SIZE * (cohort_n - 2)
    return (t1 + t2)[lo : lo + WINDOW_SIZE]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--update-ledger", action="store_true")
    ap.add_argument(
        "--cohort", type=int, default=1,
        help="1 = the driver window; N>=2 = the Nth next-50 sf0.1 sweep cohort",
    )
    args = ap.parse_args()
    if args.cohort >= 2:
        names = cohort2(args.round, args.cohort)
        print(
            f"# round {args.round} cohort-{args.cohort} sweep: {len(names)} names"
        )
        for n in names:
            print(f'    "{n}",')
        return
    window = pick(args.round, update_ledger=args.update_ledger)
    exposures, _ = artifact_exposures()
    fresh = sum(1 for n in window if n not in exposures)
    print(f"# round {args.round} window: {fresh} first-exposure / {WINDOW_SIZE}")
    for n in window:
        print(f'    "{n}",')


if __name__ == "__main__":
    main()
