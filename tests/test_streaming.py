"""Structured Streaming tests: drive file-source streams synchronously
through the versioned foreachBatch sinks and compare each final store
against the batch-equivalent computation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_ml_spark.sources import load_table
from end_to_end_ml_spark.streaming import events as SE

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batch(spark):
    return load_table(spark, SF_DIR, "events")


def test_sessionize_batch_gap_splits(spark):
    rows = [
        (1, 100, "2024-01-01 00:00:00", 1.0),
        (2, 100, "2024-01-01 00:10:00", 1.0),   # same session (10m gap)
        (3, 100, "2024-01-01 01:00:00", 1.0),   # new session (50m gap)
        (4, 200, "2024-01-01 00:00:00", 1.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts_s", "value"]).select(
        "event_id", "user_id", F.to_timestamp("ts_s").alias("ts"), "value"
    )
    out = SE.sessionize_batch(df, gap_minutes=30).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(per_user[100]) == [1, 2]
    assert per_user[200] == [1]


def test_stream_dedup_ingest_accepts_each_fingerprint_once(spark, tmp_path):
    """Incremental-dedup ingest sink: stream documents in multiple micro-
    batches; across ALL epochs exactly one doc per distinct content
    fingerprint is accepted, every fingerprint is covered, and the final
    store holds exactly the accepted fingerprint set."""
    import os

    from pyspark.sql import functions as F

    rows = []
    # 12 distinct 8-token prefixes, each appearing 3 times across docs
    for i in range(36):
        prefix = " ".join([f"tok{i % 12}"] * 8)
        rows.append((i, f"{prefix} tail{i}"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out_path = str(tmp_path / "accepted")
    store_path = str(tmp_path / "store")
    SE.stream_dedup_ingest(
        stream, out_path, store_path, "doc_id", "text", str(tmp_path / "ck")
    )

    accepted = spark.read.parquet(out_path)
    fp = F.md5(
        F.concat_ws(" ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 8))
    )
    acc = accepted.withColumn("__fp", fp).collect()
    fps = [r["__fp"] for r in acc]
    assert len(fps) == 12 and len(set(fps)) == 12  # one winner per prefix
    store = spark.read.parquet(
        os.path.join(store_path, f"v={max(SE._snapshot_versions(store_path))}")
    )
    assert {r["fp"] for r in store.collect()} == set(fps)
    # multiple epochs actually ran (incremental, not one batch)
    assert len(SE._snapshot_versions(store_path)) >= 2


def test_stream_dedup_ingest_refuses_fresh_checkpoint_on_old_store(spark, tmp_path):
    """Restart with a FRESH checkpoint against an existing multi-version
    store resets epoch ids to 0; the sink must refuse (store versions
    ahead of the epoch) instead of silently ignoring the store and
    overwriting its early versions (r6 advisory)."""
    import pyspark.sql.utils

    rows = [(i, " ".join([f"tok{i % 6}"] * 8) + f" tail{i}") for i in range(18)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def make_stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    out_path = str(tmp_path / "accepted")
    store_path = str(tmp_path / "store")
    SE.stream_dedup_ingest(
        make_stream(), out_path, store_path, "doc_id", "text", str(tmp_path / "ck1")
    )
    versions_before = SE._snapshot_versions(store_path)
    assert len(versions_before) >= 2  # multi-version store

    with pytest.raises(pyspark.sql.utils.StreamingQueryException) as exc:
        SE.stream_dedup_ingest(
            make_stream(), out_path, store_path, "doc_id", "text",
            str(tmp_path / "ck2"),  # fresh checkpoint, same store
        )
    assert "ahead of epoch" in str(exc.value)
    # the version chain was not touched
    assert SE._snapshot_versions(store_path) == versions_before


def test_stream_hll_ingest_matches_batch_sketch(spark, batch, tmp_path):
    """Streaming HLL register maintenance: stream events in 3 micro-batches;
    the final max-merged store must equal the batch-built daily register
    sketch over ALL events (HLL union is associative + commutative +
    idempotent, so the result is micro-batch-split independent), and
    intermediate versions must exist (the merge ran incrementally)."""
    from end_to_end_ml_spark.operators.timeseries import (
        hll_registers,
        hll_registers_rollup,
    )

    src = str(tmp_path / "src")
    batch.repartition(3).write.parquet(src)
    file_schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store = str(tmp_path / "hll")
    SE.stream_hll_ingest(
        stream, store, "user_id", "ts", "event_type", str(tmp_path / "ck")
    )
    versions = SE._snapshot_versions(store)
    assert len(versions) >= 2, "expected multiple incremental merge epochs"
    got = {tuple(r) for r in SE.read_latest_snapshot(spark, store).collect()}
    want = {
        tuple(r)
        for r in hll_registers_rollup(
            hll_registers(batch, "user_id", "ts", "event_type")
        ).collect()
    }
    assert got == want and got


def test_stream_countmin_ingest_matches_batch_sketch(spark, batch, tmp_path):
    """Streaming Count-Min maintenance: 3 micro-batches SUM-merge into the
    versioned store; the final store must equal the batch-built per-day
    sketch over ALL events. Count-Min union is additive (NOT idempotent),
    so this parity rests on the versioned-store replay argument rather
    than merge idempotence — the split-independence half (sum over any
    partition of the events equals the total) is what this pins."""
    from end_to_end_ml_spark.operators.timeseries import countmin_sketch

    src = str(tmp_path / "src")
    batch.repartition(3).write.parquet(src)
    file_schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store = str(tmp_path / "cm")
    SE.stream_countmin_ingest(
        stream, store, "user_id", "ts", str(tmp_path / "ck")
    )
    versions = SE._snapshot_versions(store)
    assert len(versions) >= 2, "expected multiple incremental merge epochs"
    got = {tuple(r) for r in SE.read_latest_snapshot(spark, store).collect()}
    want = {
        tuple(r)
        for r in countmin_sketch(batch, "user_id", F.to_date(F.col("ts")))
        .withColumnRenamed("bucket", "day")
        .collect()
    }
    assert got == want and got


def test_stream_countmin_ingest_fresh_checkpoint_guard(spark, batch, tmp_path):
    """A reset checkpoint against a store with future versions must refuse
    (the lifecycle contract shared by every ingest sink here)."""
    import pytest as _pytest

    src = str(tmp_path / "src")
    batch.limit(50).repartition(3).write.parquet(src)
    file_schema = spark.read.parquet(src).schema

    def mkstream():
        return (
            spark.readStream.schema(file_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    store = str(tmp_path / "cm")
    SE.stream_countmin_ingest(mkstream(), store, "user_id", "ts", str(tmp_path / "ck1"))
    # fresh checkpoint, same store -> epoch restarts at 0 behind existing versions
    with _pytest.raises(Exception, match="ahead of epoch|StreamingQueryException|ahead"):
        SE.stream_countmin_ingest(
            mkstream(), store, "user_id", "ts", str(tmp_path / "ck2")
        )


def test_stream_histogram_ingest_matches_batch_sketch(spark, batch, tmp_path):
    """Streaming quantile maintenance: micro-batches SUM-merge per-day
    histogram rows into the versioned store; the final store must equal
    the batch-built sketch over ALL events (split-independence of
    counter addition), and quantile extraction over the store must
    equal extraction over the batch sketch."""
    from end_to_end_ml_spark.operators.timeseries import (
        histogram_quantiles,
        histogram_sketch,
    )

    src = str(tmp_path / "src")
    batch.repartition(3).write.parquet(src)
    file_schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store = str(tmp_path / "hist")
    SE.stream_histogram_ingest(
        stream, store, "event_type", "ts", "value", str(tmp_path / "ck")
    )
    versions = SE._snapshot_versions(store)
    assert len(versions) >= 2, "expected multiple incremental merge epochs"
    snap = SE.read_latest_snapshot(spark, store)
    got = {tuple(r) for r in snap.collect()}
    want_sketch = histogram_sketch(batch, "ts", "event_type", "value").withColumnRenamed(
        "bucket", "day"
    )
    want = {tuple(r) for r in want_sketch.collect()}
    assert got == want and got
    q_got = {
        tuple(r)
        for r in histogram_quantiles(snap, ["event_type"]).collect()
    }
    q_want = {
        tuple(r)
        for r in histogram_quantiles(want_sketch, ["event_type"]).collect()
    }
    assert q_got == q_want and q_got


def test_stream_histogram_ingest_fresh_checkpoint_guard(spark, batch, tmp_path):
    """A reset checkpoint against a store with future versions must refuse
    (the lifecycle contract shared by every ingest sink here)."""
    import pytest as _pytest

    src = str(tmp_path / "src")
    batch.limit(50).repartition(3).write.parquet(src)
    file_schema = spark.read.parquet(src).schema

    def mkstream():
        return (
            spark.readStream.schema(file_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    store = str(tmp_path / "hist")
    SE.stream_histogram_ingest(
        mkstream(), store, "event_type", "ts", "value", str(tmp_path / "ck1")
    )
    with _pytest.raises(Exception, match="ahead of epoch|StreamingQueryException|ahead"):
        SE.stream_histogram_ingest(
            mkstream(), store, "event_type", "ts", "value", str(tmp_path / "ck2")
        )


def test_streaming_maintenance_runner_all_sinks(spark, tmp_path):
    """tools/run_streaming_maintenance.maintain_streams (round-9 verdict
    #7): one operational loop drives ALL FIVE versioned ingest sinks over
    a 3-micro-batch replay of the real tables; every final store must
    match the one-shot batch sketch (parity true per sink), every sink
    must have merged incrementally (>= 2 versions), and the dedup sink's
    accepted count must equal the distinct-fingerprint count."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from run_streaming_maintenance import maintain_streams

    out = str(tmp_path / "maint")
    stats = maintain_streams(spark, "/root/testdata/sf0.001", out, n_batches=3)
    assert stats["all_parity"]
    assert set(stats["sinks"]) == {"dedup", "hll", "countmin", "histogram", "dsir"}
    for name, s in stats["sinks"].items():
        assert s["parity"], name
        assert s["versions"] >= 2, name
        assert s["final_rows"] > 0, name
    assert stats["sinks"]["dedup"]["accepted_equals_distinct_fps"]


def test_streaming_maintenance_cli_writes_sidecar(spark, tmp_path, monkeypatch):
    """CLI path: argv parsing, sidecar JSON, zero exit on parity."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import run_streaming_maintenance as rsm

    out = str(tmp_path / "maint_cli")
    monkeypatch.setattr(
        sys, "argv",
        ["run_streaming_maintenance.py", "/root/testdata/sf0.001", out, "2"],
    )
    rsm.main()
    stats = json.load(open(os.path.join(out, "maintenance_stats.json")))
    assert stats["all_parity"] and stats["n_batches"] == 2


def test_stream_dsir_ingest_matches_batch_weights(spark, tmp_path):
    """Streaming DSIR maintenance: 3 micro-batches SUM-merge bucket
    counts into the versioned store; the derived weight table must equal
    operators/text.dsir_bucket_weights_from_flag over ALL docs (addition
    over a partition of the corpus = the total — the Count-Min replay
    argument). NULL-flag docs count toward neither distribution."""
    from end_to_end_ml_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, True, "alpha beta gamma delta epsilon"),
            (2, True, "beta gamma delta epsilon zeta"),
            (3, False, "alpha beta omicron sigma tau"),
            (4, False, "sigma tau upsilon phi chi"),
            (5, False, "gamma delta alpha beta"),
            (6, None, "alpha beta gamma"),
        ],
        "doc_id long, is_tgt boolean, text string",
    )
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store = str(tmp_path / "dsir")
    SE.stream_dsir_counts_ingest(
        stream, store, "is_tgt", "text", str(tmp_path / "ck")
    )
    assert len(SE._snapshot_versions(store)) >= 2
    got = {
        (r["bucket"], r["weight"])
        for r in SE.dsir_weights_from_store(spark, store).collect()
    }
    want = {
        (r["bucket"], r["weight"])
        for r in text.dsir_bucket_weights_from_flag(
            docs, "is_tgt", "text"
        ).collect()
    }
    assert got == want and got


def test_stream_dsir_ingest_fresh_checkpoint_guard(spark, tmp_path):
    """A reset checkpoint against a store with future versions must refuse
    (the lifecycle contract shared by every ingest sink here)."""
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, True, "alpha beta gamma"), (2, False, "alpha beta tau")],
        "doc_id long, is_tgt boolean, text string",
    )
    src = str(tmp_path / "src")
    docs.write.parquet(src)

    def mkstream():
        return (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    store = str(tmp_path / "dsir")
    SE.stream_dsir_counts_ingest(
        mkstream(), store, "is_tgt", "text", str(tmp_path / "ck1")
    )
    with _pytest.raises(Exception, match="ahead of epoch"):
        SE.stream_dsir_counts_ingest(
            mkstream(), store, "is_tgt", "text", str(tmp_path / "ck2")
        )

def test_stream_dsir_store_scores_new_batch_with_floor(spark, tmp_path):
    """The ADVICE-#1 scenario done RIGHT, end to end: a store built by
    the streaming sink over a HISTORICAL corpus scores a brand-new
    nightly batch (docs never counted into the store) via
    dsir_scores(floor_unseen=True). Pinned against a Python
    replay: known buckets at their store weight, unseen buckets at the
    add-one floor — and the default inner join is confirmed to UNDERcount
    exactly the unseen-bucket bigrams (the quiet skew the floor fixes)."""
    from end_to_end_ml_spark.operators import text
    from pyspark.sql import functions as F

    hist = spark.createDataFrame(
        [
            (1, True, "alpha beta gamma delta"),
            (2, True, "beta gamma delta epsilon"),
            (3, False, "alpha beta omicron sigma"),
            (4, False, "sigma tau upsilon phi"),
        ],
        "doc_id long, is_tgt boolean, text string",
    )
    src = str(tmp_path / "src")
    hist.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store = str(tmp_path / "dsir")
    SE.stream_dsir_counts_ingest(
        stream, store, "is_tgt", "text", str(tmp_path / "ck")
    )
    weights = SE.dsir_weights_from_store(spark, store)
    w = {r["bucket"]: r["weight"] for r in weights.collect()}

    # nightly batch: mixes historical vocabulary with NEW tokens
    batch = spark.createDataFrame(
        [(10, "alpha beta zzyzx qwrty"), (11, "sigma tau nyarl hpl")],
        "doc_id long, text string",
    )
    exploded = batch.select(
        "doc_id", F.explode(text.hashed_bigram_buckets("text")).alias("b")
    ).collect()
    per_doc = {}
    for r in exploded:
        seen, unseen, nb = per_doc.setdefault(r["doc_id"], [0, 0, 0])
        if r["b"] in w:
            per_doc[r["doc_id"]][0] += w[r["b"]]
        else:
            per_doc[r["doc_id"]][1] += 65536
        per_doc[r["doc_id"]][2] += 1
    assert any(v[1] > 0 for v in per_doc.values())  # unseen buckets exist

    floored = {
        r["doc_id"]: (r["dsir_score"], r["n_bigrams"])
        for r in text.dsir_scores(
            batch, "doc_id", "text", weights, floor_unseen=True
        ).collect()
    }
    assert floored == {
        d: (seen + unseen, nb) for d, (seen, unseen, nb) in per_doc.items()
    }
    inner = {
        r["doc_id"]: (r["dsir_score"], r["n_bigrams"])
        for r in text.dsir_scores(batch, "doc_id", "text", weights).collect()
    }
    for d, (seen, unseen, nb) in per_doc.items():
        if d in inner:
            assert inner[d][0] <= floored[d][0]
            assert inner[d][1] < nb or unseen == 0
