"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation, no
driver collect of big results). Times are per-query wall seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from end_to_end_ml_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Session conf on top of get_spark's defaults; tools/opt_probe.py imports
# it so probe numbers stay comparable to bench rows.
BENCH_CONF = {
    # small-SF local files: split finer so the scan uses all cores
    # (on a real cluster the file count provides this for free).
    # 256k, not the earlier 8m: at sf0.1 every table except
    # lineitem is < 8 MB, so 8m left whole scans on ONE core
    # (d12's gram explode measured 3.5 s single-task vs 0.95 s
    # spread). Same for AQE's 64 MB advisory size — it coalesced
    # every shuffle read to 1-10 partitions at this SF (d10/a18
    # straggler stages); 256k keeps reduce-side parallelism.
    # These are SMALL-SF knobs only: at production scale the
    # 128m/64m defaults are correct and this override would be
    # harmful (task-scheduling overhead per ~256k of input).
    "spark.sql.files.maxPartitionBytes": "256k",
    "spark.sql.files.openCostInBytes": "64k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256k",
    # Long-lived-session hygiene (d4 once measured 4.78 s in situ vs
    # 0.66 s isolated — late-slot queries absorbed accumulated session
    # state). The JIT code cache half of it, -XX:ReservedCodeCacheSize=512m,
    # is a get_spark default (session.DRIVER_JAVA_OPTIONS). The other half:
    # the async ContextCleaner only reclaims localCheckpoint / broadcast
    # blocks after a driver GC notices the dead refs; an idle driver can go
    # the whole bench without a full GC, so force one periodically (default
    # is 30min — longer than the entire run).
    "spark.cleaner.periodicGC.interval": "2min",
}

# The timed run plan, in run order: query -> reps (min-of-N). The heavy
# generated aggregates need 2-3 executions before C2 JIT reaches steady
# state; min-of-3 was still measuring compilation on the big plans.
#
# Headline queries: the flagship relational plans + the metric queries that
# represent each operator family (agg, join, window, as-of, sweep, text).
# They get the untimed warm lap, the end-of-run second pass, and
# r4_comparable_total (their first-pass sum).
HEADLINE = {
    "q1_pricing_summary": 5,
    "q3_top_orders": 5,
    "q4_order_priority": 5,
    "q5_supplier_volume": 5,
    "q10_returned_items": 5,
    "w4_running_total": 5,
    "p6_latest_order_per_customer": 5,
    "t1_stratified_split": 5,
    "s3_pit_join": 5,
    "a6_roc_auc": 5,
    "a8_auc_ovr_macro": 5,
    "a12_roc_curve": 5,
    "a13_lift_gains": 5,
    "m8_threshold_sweep": 5,
    "st_hourly_window": 5,
    "ts3_time_weighted_avg": 5,
    "sim1_topk_bruteforce": 5,
    # d4's ~2000-node generated aggregate needs the most C2 warm-up of any
    # plan; in a warm session its reps were measured still DESCENDING at
    # rep 5 (3.6 -> 2.3 -> 2.1 -> 1.4 -> ...) while isolated it converges
    # by rep 4 — the extra reps report steady state, not the slope.
    "d4_simhash_pairs": 8,
}

# Every other benched row, counted in the total only.
REST = {
    # Heavy operators (d7 once went 140 s -> ~8 s without a bench row to
    # show it). pipe3 isolated converges only at rep 3-4 (9.3 -> 2.2 ->
    # 2.1 -> 1.73 -> 1.76); min-of-3 reported the warm-up slope, and
    # shipped numbers swung 1.7-3.4 s run-to-run.
    "q9_product_profit": 5,
    "pipe3_pretrain_corpus": 5,
    # d7's reps converge slowly too (13.8 -> 4.1 -> 3.3 -> 2.8 -> 2.76,
    # still descending at rep 4): same remedy as d4.
    "d7_near_dup_groups": 8,
    # The rows below run min-of-4 for the same reason at smaller magnitude.
    # Banded range join, greedy packing (applyInPandas), corpus-frequency
    # scoring (double shuffle), SCD2 gaps-and-islands.
    "rj1_event_pairs": 4,
    "pack1_sequence_packing": 4,
    "x11_token_rarity": 4,
    "ev3_scd2_history": 4,
    # Session-path mining (two windows + two aggregations over all events),
    # market-basket self-join pair counting + association rules, the
    # eval-set corpus pipeline, the sequential EWMA kernel.
    "ev4_top_session_paths": 4,
    "q23_copurchase_pairs": 4,
    "q24_association_rules": 4,
    "pipe5_eval_set": 4,
    "ts6_ewma": 4,
    # span-level substring dedup (positional-gram explode), multi-touch
    # attribution (banded two-frame interval join), CountMin
    # build+merge+probe, incremental fingerprint-store ingest
    "d10_span_dedup": 4,
    "ev6_linear_attribution": 4,
    "ts7_countmin_heavy_hitters": 4,
    "pipe6_incremental_ingest": 4,
    # two-pass bucketed global rank, ordinal-join negative sampling
    "ord1_global_ordinal": 4,
    "emb4_negative_pairs": 4,
    # rank-statistic double join (a18), per-user lead window over all
    # events (ev7), 4-stage curation composition (pipe7)
    "a18_spearman_components": 4,
    "ev7_event_transitions": 4,
    "pipe7_curated_shards": 4,
    # cross-source gram containment (distinct-gram aggregation),
    # count-frame join-cardinality estimate
    "d12_source_overlap_matrix": 4,
    "skew4_join_cardinality": 4,
    # BM25 (corpus-wide dl sums + broadcast term probe), blocked
    # levenshtein self-join, the full four-way split chain, and the
    # one-pass column profile
    "x17_bm25_components": 4,
    "d11_edit_distance_pairs": 4,
    "t13_four_way_carve": 4,
    "p15_profile_columns": 4,
    # the oracle-exact HLL register rollup, URL-canonicalization dedup, and
    # the per-round distributed BPE merge trainer (8 rounds of pair
    # count + argmax + localCheckpoint — the registry's only multi-round
    # iterative text algorithm besides d7)
    "ts4b_hll_registers": 4,
    "d13_url_canonical_dupes": 4,
    "x16_bpe_merges": 4,
    # incremental LSH probe (batch-vs-history near-dup maintenance)
    "pipe8_incremental_near_dup": 4,
    # cosine-distribution audit over the md5 pair sample
    "emb5_cosine_histogram": 4,
    # oracle-exact md5-family SimHash pairs (vs d4's xxhash64 family)
    "d4b_simhash_md5_pairs": 4,
    # the batched BPE trainer at the production-merge-count regime (full
    # corpus closure, 90 merges at sf0.1, k=32 disjoint merges/round)
    "x16b_bpe_batched": 4,
    # incremental ANN probe (batch-vs-persisted-IVF-index cosine
    # maintenance — the embedding twin of pipe8)
    "pipe9_incremental_ann": 4,
    # Arrow-batched memoized tokenizer application (train 40 sub-word
    # merges, encode the whole corpus via mapInPandas + Zipf word cache)
    "x18b_bpe_encode_batched": 4,
    # Gopher-rule quality gate: scan-fused all-integer JVM projection
    "x22_gopher_filters": 4,
    # token-budget mixture allocation: one groupBy to |sources| rows
    "mix2_token_budget": 4,
    # bucketed surrogate-key gap audit (partitioned windows, one scan)
    "dq5_id_gap_audit": 4,
    # smoothed mean target encoding (decimal sums + fixed double chain)
    "f14_target_encode": 4,
    # mergeSchema two-generation roundtrip (writes + merged read-back)
    "s17_schema_evolution": 4,
    # curation composition: gopher gate -> exact dedup ->
    # token-budget allocation -> integer md5 admit draws
    "pipe10_budget_curation": 4,
    # rolling z-score anomaly over the daily aggregate
    "ts10_rolling_zscore": 4,
    # lossless prefix-filter exact jaccard join (bigram tokens, %2 slice)
    "d16_prefix_filter_jaccard": 4,
    # mergeable histogram sketch -> weekly P50/P90/P99 (integer edges)
    "ts11_quantile_sketch": 4,
    # rolling-origin CV audit (integer epoch slices, expanding n_train)
    "t14_rolling_origin": 4,
    # the oracled MLlib leaderboard (real frame + exact label + stratified
    # split + integer leaderboard — the split machinery under a computed
    # label gets its own row)
    "ml1b_validation_leaderboard": 4,
    # exact-substring tile dedup WITH document rewrite (keep-first window
    # partitioned by tile text + per-doc rebuild agg)
    "d17_tile_dedup_rewrite": 4,
    # incremental curation flagship: gopher gate -> within-batch +
    # vs-history exact dedup -> budget admission, one plan
    "pipe11_incremental_curation": 4,
    # epoch-expansion stream materialization (broadcast rates + row-local
    # bounded explode)
    "mix3_epoch_expansion": 4,
    # the LLaMA-style water-filling allocator (one groupBy to |buckets|
    # rows + the exact integer freeze loop driver-side), the DSIR
    # selection and curation rows, and the adaptive ANN router's EXACT
    # mode on the planted-cluster geometry (index build + lossless
    # triangle-inequality probe where pruning provably engages)
    "mix4_waterfill": 4,
    "mix5_dsir_selection": 4,
    "pipe13_dsir_curation": 4,
    "pipe12_adaptive_ann_exact": 4,
}


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Below this much MemAvailable at bench start, the OS is still reclaiming a
# previous heavy JVM's heap (a bench started the instant a ~90 GB sweep JVM
# exits read slot-1 uniformly ~30-45% slow) — take ONE extra untimed
# headline lap so the timed pass measures the engine, not the page-cache
# churn.
SETTLE_MEM_MB = int(os.environ.get("SPARK_GRAFT_SETTLE_MEM_MB", str(48 * 1024)))
# ... and above this 1-min load average (a run with 115 GiB MemAvailable —
# no settle lap — but load_1m 6.19 read its first pass ~25% slow; high load
# is the OTHER face of the same back-to-back-JVM host
# state, so it should be ABSORBED, not just classified).
SETTLE_LOAD_1M = float(os.environ.get("SPARK_GRAFT_SETTLE_LOAD_1M", "2.0"))


def machine_state() -> dict:
    """Machine-state markers stamped into the bench JSON (round-11 verdict
    #3: the r10 slot-1 drift took a round of forensics to attribute to
    back-to-back JVM starts; these markers let any reader classify a drift
    from the artifact alone)."""
    state: dict = {}
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    state["mem_available_mb"] = int(line.split()[1]) // 1024
                    break
    except OSError:
        pass
    try:
        with open("/proc/loadavg") as fh:
            parts = fh.read().split()
            state["load_1m"], state["load_5m"], state["load_15m"] = (
                float(parts[0]), float(parts[1]), float(parts[2])
            )
    except (OSError, ValueError, IndexError):
        pass
    return state


def driver_jvm_memory(spark) -> dict:
    """The driver JVM's memory at the end of timing: its peak RSS (VmHWM),
    committed heap and -Xmx. With the grow-only heap, committed heap is
    what the run needed, not the cap; these show it on the host the bench
    ran on."""
    jvm = spark._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    state = {
        "xmx": spark.sparkContext.getConf().get("spark.driver.memory"),
        "heap_committed_mb": heap.getHeapMemoryUsage().getCommitted() >> 20,
    }
    with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                state["vmhwm_mb"] = int(line.split()[1]) // 1024
    return state


def main() -> None:
    t_proc0 = time.perf_counter()
    state_at_start = machine_state()
    spark = get_spark(
        "bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf=BENCH_CONF,
    )
    from end_to_end_ml_spark.plans.entry_queries import REGISTRY

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # untimed warmup: JVM codegen + parquet footers + OS page cache
    from end_to_end_ml_spark.sources import load_table

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "orders", "customer", "events"):
        load_table(spark, SF_DIR, t).count()
    # One untimed warm lap over the HEADLINE segment: HEADLINE runs first,
    # so its slot-1 min-of-5 would pay the session's initial C2-compilation
    # slope that every later segment gets for free (headline 10.07 s in
    # situ vs 9.5 s solo). One end-to-end execution
    # per headline query compiles the hot plans before any timing starts —
    # the same session state a production driver reaches after its first
    # request. Measured with alternating 1-lap/2-lap headline-only
    # sessions: a SECOND lap does not move slot-1
    # (10.09/9.91 s one-lap vs 10.56/9.89 s two-lap — inside run noise);
    # the residual ~0.3-0.5 s slot1-vs-warm gap is scheduler/GC noise,
    # which the end-of-run second pass folds out. Disclosed in the JSON
    # "methodology" field.
    for name in HEADLINE:
        try:
            force(REGISTRY[name][0](spark, SF_DIR))
        except Exception:  # noqa: BLE001 — the timed loop reports failures
            pass
        finally:
            spark.catalog.clearCache()

    # Settle lap: when the box is still digesting a previous heavy JVM's
    # exit (low MemAvailable at bench start), one more untimed headline lap
    # lets the OS finish reclaiming before any timing starts. Recorded in
    # the JSON so the reading is self-attributing either way.
    settle_mem = (
        state_at_start.get("mem_available_mb", SETTLE_MEM_MB) < SETTLE_MEM_MB
    )
    settle_load = state_at_start.get("load_1m", 0.0) > SETTLE_LOAD_1M
    settle_lap = settle_mem or settle_load
    if settle_lap:
        print(
            f"[bench] start state MemAvailable "
            f"{state_at_start.get('mem_available_mb')}m (threshold "
            f"{SETTLE_MEM_MB}m), load_1m {state_at_start.get('load_1m')} "
            f"(threshold {SETTLE_LOAD_1M}) — running one untimed settle lap",
            file=sys.stderr,
        )
        for name in HEADLINE:
            try:
                force(REGISTRY[name][0](spark, SF_DIR))
            except Exception:  # noqa: BLE001
                pass
            finally:
                spark.catalog.clearCache()
    state_pre_timing = machine_state()
    state_pre_timing["seconds_since_process_start"] = round(
        time.perf_counter() - t_proc0, 1
    )

    # Failure-isolated: one broken query records an error entry and the run
    # keeps going — a bench that can't produce partial results under a single
    # failure is itself a defect.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, reps in (*HEADLINE.items(), *REST.items()):
        try:
            fn = REGISTRY[name][0]
            rep_times: list[float] = []
            for _ in range(reps):
                t0 = time.perf_counter()
                force(fn(spark, SF_DIR))
                rep_times.append(time.perf_counter() - t0)
                # Cold-honest reps: operators that persist() intermediates
                # (minhash/simhash signature stores — pipe8, d3, d7 family)
                # would hit rep 1's CacheManager-materialized frames on
                # reps 2+, so their min-of-N would report warm-cache cost
                # (~2x flattering for pipe8). Clear the SQL cache INSIDE
                # the rep loop so every rep recomputes from parquet. localCheckpoint blocks are
                # NOT affected (RDD-level, rebuilt per call by design).
                spark.catalog.clearCache()
            # Convergence guard: a co-tenant steal burst can
            # cover ALL N reps of one query and poison its min (measured:
            # a 10-60 s all-core kernel/steal storm read d16's min-of-5
            # as 10.06 s vs a 5 s steady state reproduced minutes later).
            # min-of-N is only trustworthy when a SECOND rep corroborates
            # the best one; while the two best reps disagree by >25%,
            # sample again (bounded at +3 so a genuinely degraded host
            # still terminates and gets classified by machine_state/soak
            # instead of looping).
            extras = 0
            while extras < 3:
                b1, b2 = sorted(rep_times)[:2]
                if (b2 - b1) / b1 <= 0.25:
                    break
                t0 = time.perf_counter()
                force(fn(spark, SF_DIR))
                rep_times.append(time.perf_counter() - t0)
                spark.catalog.clearCache()  # cold-honest (see rep loop)
                extras += 1
            timings[name] = round(min(rep_times), 3)
        except Exception as exc:  # noqa: BLE001 — record and continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            # operators that persist intermediates (simhash fingerprints,
            # minhash signatures) would otherwise accumulate cached blocks
            # across 5 iterations x 18 queries and pressure the heap of
            # later queries
            spark.catalog.clearCache()
            # clearCache only drops the SQL cache; localCheckpoint blocks
            # (connected components materializes one per round per rep)
            # are RDD-level persists freed by the async ContextCleaner on
            # JVM GC — without a nudge they linger and the heap pressure
            # showed up as 2-4x slowdowns in whatever queries ran last
            spark._jvm.System.gc()
    # Second pass over HEADLINE at end of run: the soak probe showed q1
    # at 0.777 s fully warm vs 1.04 s in slot 1 — the HEADLINE segment runs
    # FIRST, before ~40 queries' worth of C2 compilation has accumulated,
    # so its min-of-5 under-reports steady state by ~25%. Re-run each
    # headline query twice in the fully-warmed session and fold into the
    # min: still a min-of-N of end-to-end executions, now sampling the
    # session state a long-lived production driver would actually run in.
    slot1 = {k: timings[k] for k in HEADLINE if k in timings}
    for name in HEADLINE:
        if name not in timings:
            continue
        fn = REGISTRY[name][0]
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                force(fn(spark, SF_DIR))
                timings[name] = min(timings[name], round(time.perf_counter() - t0, 3))
                spark.catalog.clearCache()  # cold-honest (see rep loop)
        except Exception as exc:  # noqa: BLE001
            # the query DID complete in pass 1 (its timing stands); a
            # failed warm re-run must not also mark it failed — that
            # would double-count it in both queries and errors.
            # Non-fatal: note on stderr only.
            print(
                f"[bench] second-pass re-run of {name} failed "
                f"({type(exc).__name__}); keeping pass-1 timing",
                file=sys.stderr,
            )
        finally:
            spark.catalog.clearCache()
    # Soak probe: a long-lived driver must not degrade. Re-time the first
    # headline query after the full sweep; if it is >2x its own slot-1 time
    # the session has accumulated state (code-cache exhaustion, cleaner
    # backlog, old-gen pressure) and the bench flags it rather than letting
    # late-slot queries silently absorb the penalty (d4 once read 4.78 s
    # in situ vs 0.66 s isolated for exactly this reason).
    # min-of-3, NOT single-shot: rep 0 of any query carries one-time plan
    # analysis/codegen cost (~1.7 s vs 0.95 s steady for q1), so a
    # single-shot probe would flag "degradation" in a perfectly healthy
    # session. min-of-3 vs slot-1's min-of-5 compares steady state to
    # steady state.
    soak = {}
    if "q1_pricing_summary" in timings:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            force(REGISTRY["q1_pricing_summary"][0](spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
        soak["q1_end_of_run"] = round(best, 3)
        # compare against the FIRST-pass slot-1 number (pre-second-pass),
        # so the probe still measures early-session vs late-session state
        soak["q1_slot1"] = slot1.get("q1_pricing_summary", timings["q1_pricing_summary"])
        soak["degraded"] = soak["q1_end_of_run"] > 2 * soak["q1_slot1"]
    try:
        driver_jvm = driver_jvm_memory(spark)
    except Exception as exc:  # noqa: BLE001 — diagnostics only
        driver_jvm = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    # JVM health snapshot (stderr, not the JSON line): code-cache pools are
    # the prime suspect for uniform late-run slowdowns — when CodeHeap
    # 'non-profiled nmethods' fills, HotSpot stops compiling and whole-stage
    # codegen runs interpreted.
    try:
        mf = spark._jvm.java.lang.management.ManagementFactory
        for pool in mf.getMemoryPoolMXBeans():
            u = pool.getUsage()
            print(
                f"[jvm-pool] {pool.getName()}: used={u.getUsed() >> 20}m "
                f"max={max(u.getMax(), 0) >> 20}m",
                file=sys.stderr,
            )
    except Exception as exc:  # noqa: BLE001 — diagnostics only
        print(f"[jvm-pool] unavailable: {exc}", file=sys.stderr)
    total = round(sum(timings.values()), 3)

    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "cpus": CPUS,
        "completed": len(timings),
        "failed": len(errors),
        # the 18-query HEADLINE sum, the pre-round-5 query set. Its
        # baseline was measured WITHOUT the end-of-run warm pass, so it
        # sums the FIRST-PASS numbers (slot1) or the delta would mix a
        # methodology change into the code-change signal.
        "r4_comparable_total": round(sum(slot1.values()), 3),
        # Per-query slot-1 minima for the headline segment: they let any
        # reader attribute a slot-1 delta to the specific
        # queries whose first-pass JIT/session state inflated, instead of
        # guessing from the segment sum).
        "headline_slot1": slot1,
        # Honest-comparison disclosure: the session conf
        # and warm-up methodology have CHANGED since the round
        # r4_comparable_total is named after, so its delta mixes harness
        # changes into the code-change signal. Changes: round 7 re-tuned
        # small-SF parallelism (maxPartitionBytes 8m->256k, openCostInBytes
        # 1m->64k, AQE advisory 64m->256k); round 8 added one untimed
        # HEADLINE warm lap before timing (slot-1 JIT pinning).
        "methodology": {
            "conf_changed_in_round": 7,
            "small_sf_conf": {
                "spark.sql.files.maxPartitionBytes": "256k",
                "spark.sql.files.openCostInBytes": "64k",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256k",
            },
            "headline_warm_lap_since_round": 8,
            "machine_state_markers_since_round": 12,
            # the settle lap also fires on high start load (plenty of
            # memory but load_1m 6.19 is the same host state, absorbed
            # instead of merely classified)
            "settle_on_load_since_round": 13,
            # up to 3 extra reps per query while
            # the two best reps disagree by >25% — min-of-N is only
            # reported once a second rep corroborates the best, so a
            # co-tenant steal burst covering one query's whole rep window
            # can't poison its row (measured: d16 min-of-5 read 10.06 s
            # under a storm vs 5 s steady state minutes later). Still a
            # min over full end-to-end executions.
            "rep_convergence_guard_since_round": 13,
            # spark.catalog.clearCache() runs INSIDE the rep loop, so
            # persist()-ing operators (pipe8, d7, d3 signature stores)
            # report per-call COLD cost — their rows rose at that round by
            # construction, not by regression (pipe8 1.45 s warm vs ~3.3 s
            # cold).
            "cold_reps_since_round": 14,
        },
        # Self-attribution markers: classify slot-1
        # drift from the artifact alone — low mem_available_mb at start +
        # high load = the back-to-back-JVM signature, not a code change.
        "machine_state": {
            "at_start": state_at_start,
            "pre_timing": state_pre_timing,
            "settle_lap": settle_lap,
            "settle_mem_mb_threshold": SETTLE_MEM_MB,
            "settle_load_1m_threshold": SETTLE_LOAD_1M,
            "driver_jvm": driver_jvm,
        },
    }
    if soak:
        out["soak"] = soak
    if errors:
        out["errors"] = errors
    line = json.dumps(out)
    # Loss-proof artifact: a stdout tail truncated mid-JSON by a capture
    # layer leaves no comparable numbers. Write the same line to a file FIRST,
    # then print it — stdout remains the contract, the file is the backup.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_OUT.json"),
            "w",
        ) as fh:
            fh.write(line + "\n")
    except OSError as exc:  # never let the backup kill the contract line
        print(f"[bench] BENCH_OUT.json write failed: {exc}", file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
