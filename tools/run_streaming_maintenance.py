"""Streaming-sketch maintenance driver — the streaming sibling of
tools/run_curation_pipeline.py / run_ann_maintenance.py (round-9 verdict
#7): drive ALL FIVE versioned ingest sinks (exact-membership dedup, HLL
distinct, Count-Min frequency, fixed-width histogram quantiles, DSIR
bucket-count distributions) over a
synthetic multi-micro-batch stream of the REAL tables, then check every
final store against the one-shot batch truth and MATERIALIZE what an
operations loop consumes: the versioned stores + a stats JSON recording
per-sink version counts, store sizes, and the parity verdicts.

Stages:
  1. stage      — re-write events/documents as n_batches parquet files
                  (load_table handles the TIMESTAMP(NANOS) gotcha; the
                  staged copies stream cleanly via maxFilesPerTrigger=1)
  2. ingest ×5  — streaming/events.stream_{dedup,hll,countmin,histogram,
                  dsir_counts}_ingest, each draining synchronously into
                  its own versioned store under out_dir
  3. verify     — each final store vs the batch-built sketch over ALL
                  rows: HLL max-merge is idempotent so equality is exact
                  by algebra; Count-Min/histogram are addition-merged and
                  equal because the micro-batches partition the corpus;
                  dedup's accepted set must cover every distinct
                  fingerprint exactly once
  4. write      — maintenance_stats.json sidecar; exit nonzero on any
                  parity failure

The three sketch-parity collects are bounded by construction: each store
holds sketch rows (days × groups × registers / d·w counters / bins),
never raw keys. The dedup store IS key-sized (one fingerprint per
ever-accepted doc), so its parity check stays distributed — two anti-join
counts, no driver funnel.

The run OWNS out_dir with overwrite semantics (same as the sibling
runners): any existing out_dir is removed first, because the sinks'
checkpoint/store lifecycle contract means a re-run against stale
checkpoints would replay the staged files as NEW epochs and double-count
the addition-merged sketches.

Usage: python tools/run_streaming_maintenance.py [sf_dir] [out_dir] [n_batches]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # sibling tools

from pyspark.sql import functions as F

from end_to_end_ml_spark.operators.timeseries import (  # noqa: E402
    countmin_sketch,
    histogram_sketch,
    hll_registers,
    hll_registers_rollup,
)
from end_to_end_ml_spark.session import get_spark  # noqa: E402
from end_to_end_ml_spark.sources import load_table  # noqa: E402
from end_to_end_ml_spark.streaming import events as SE  # noqa: E402


def _stage(df, path: str, n_files: int):
    """Materialize a batch frame as n_files parquet files so the file
    stream replays it as n_files micro-batches (maxFilesPerTrigger=1)."""
    df.repartition(n_files).write.mode("overwrite").parquet(path)


def _mkstream(spark, path: str):
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def maintain_streams(spark, sf_dir: str, out_dir: str, n_batches: int = 3):
    """Run the five ingest sinks end-to-end and return the stats dict.
    Kept as a function so tests can run it on sf0.001 without the CLI
    path (the run_curation_pipeline pattern). Removes any pre-existing
    out_dir first — overwrite semantics; a re-run against the previous
    run's checkpoints would replay the re-staged files as NEW epochs and
    double-count the sum-merged Count-Min/histogram stores."""
    import shutil

    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    events = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ev_src = os.path.join(out_dir, "src", "events")
    doc_src = os.path.join(out_dir, "src", "documents")
    _stage(events, ev_src, n_batches)
    _stage(docs, doc_src, n_batches)

    stats: dict = {"sf_dir": sf_dir, "n_batches": n_batches, "sinks": {}}

    def record(name, store_path, got_rows, want_rows, extra=None):
        versions = SE._snapshot_versions(store_path)
        entry = {
            "versions": len(versions),
            "final_rows": len(got_rows),
            "parity": set(got_rows) == set(want_rows),
        }
        if extra:
            entry.update(extra)
        stats["sinks"][name] = entry

    # 1. exact-membership dedup ingest
    dd = os.path.join(out_dir, "dedup")
    SE.stream_dedup_ingest(
        _mkstream(spark, doc_src),
        os.path.join(dd, "accepted"),
        os.path.join(dd, "store"),
        "doc_id",
        "text",
        os.path.join(dd, "ck"),
    )
    # the SAME fingerprint convention as the sinks/pipe6/pipe11 — imported,
    # not re-inlined, so a convention change cannot silently stale this check
    from end_to_end_ml_spark.operators.text import prefix_fingerprint_column

    truth = docs.select(prefix_fingerprint_column("text").alias("fp")).distinct()
    store = SE.read_latest_snapshot(spark, os.path.join(dd, "store"))
    # dedup state is KEY-sized (one fp per ever-accepted doc), so parity
    # stays distributed: symmetric-difference via two anti-join counts
    missing = truth.join(store, "fp", "left_anti").count()
    extra = store.join(truth, "fp", "left_anti").count()
    n_truth = truth.count()
    n_accepted = spark.read.parquet(
        os.path.join(dd, "accepted"), recursiveFileLookup=True
    ).count()
    stats["sinks"]["dedup"] = {
        "versions": len(SE._snapshot_versions(os.path.join(dd, "store"))),
        "final_rows": store.count(),
        "parity": missing == 0 and extra == 0,
        "accepted_docs": n_accepted,
        "accepted_equals_distinct_fps": n_accepted == n_truth,
    }

    # 2. HLL distinct-count registers (max-merge, idempotent)
    hll_store = os.path.join(out_dir, "hll")
    SE.stream_hll_ingest(
        _mkstream(spark, ev_src), hll_store, "user_id", "ts", "event_type",
        os.path.join(out_dir, "ck_hll"),
    )
    got = [tuple(r) for r in SE.read_latest_snapshot(spark, hll_store).collect()]
    want = [
        tuple(r)
        for r in hll_registers_rollup(
            hll_registers(events, "user_id", "ts", "event_type")
        ).collect()
    ]
    record("hll", hll_store, got, want)

    # 3. Count-Min frequency counters (sum-merge over partitioned batches)
    cm_store = os.path.join(out_dir, "cm")
    SE.stream_countmin_ingest(
        _mkstream(spark, ev_src), cm_store, "user_id", "ts",
        os.path.join(out_dir, "ck_cm"),
    )
    got = [tuple(r) for r in SE.read_latest_snapshot(spark, cm_store).collect()]
    want = [
        tuple(r)
        for r in countmin_sketch(events, "user_id", F.to_date(F.col("ts")))
        .withColumnRenamed("bucket", "day")
        .collect()
    ]
    record("countmin", cm_store, got, want)

    # 4. fixed-width histogram (quantile sketch, sum-merge)
    hist_store = os.path.join(out_dir, "hist")
    SE.stream_histogram_ingest(
        _mkstream(spark, ev_src), hist_store, "event_type", "ts", "value",
        os.path.join(out_dir, "ck_hist"),
    )
    got = [tuple(r) for r in SE.read_latest_snapshot(spark, hist_store).collect()]
    want = [
        tuple(r)
        for r in histogram_sketch(events, "ts", "event_type", "value")
        .withColumnRenamed("bucket", "day")
        .collect()
    ]
    record("histogram", hist_store, got, want)

    # 5. DSIR bucket-count distributions (sum-merge; weight table derived
    #    from the store so a nightly selection job never rescans history)
    from end_to_end_ml_spark.operators import text as TX
    from end_to_end_ml_spark.operators.curate import DSIR_TARGET_SOURCES

    is_target = F.col("source").isin(*DSIR_TARGET_SOURCES)
    dsir_store = os.path.join(out_dir, "dsir")
    dsir_stream = _mkstream(spark, doc_src).withColumn("is_tgt", is_target)
    SE.stream_dsir_counts_ingest(
        dsir_stream, dsir_store, "is_tgt", "text",
        os.path.join(out_dir, "ck_dsir"),
    )
    got = [
        tuple(r)
        for r in SE.dsir_weights_from_store(spark, dsir_store).collect()
    ]
    want = [
        tuple(r)
        for r in TX.dsir_bucket_weights_from_flag(
            docs.withColumn("is_tgt", is_target), "is_tgt", "text"
        ).collect()
    ]
    record("dsir", dsir_store, got, want)

    stats["all_parity"] = all(s["parity"] for s in stats["sinks"].values())
    return stats


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_stream_maintenance"
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = get_spark("run-streaming-maintenance")
    stats = maintain_streams(spark, sf_dir, out_dir, n_batches)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "maintenance_stats.json"), "w") as f:
        json.dump(stats, f, indent=1, sort_keys=True)
    print(json.dumps(stats))
    if not stats["all_parity"]:
        raise SystemExit(2)


if __name__ == "__main__":
    main()
