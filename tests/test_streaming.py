"""Structured Streaming tests: drive file-source streams synchronously into
memory sinks and compare against batch-equivalent computations.

Append-mode semantics: windows/sessions still open at the final watermark
(the last ~watermark of event time) are never emitted — the comparisons
exclude that open tail explicitly."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from end_to_end_ml_spark.sources import load_table
from end_to_end_ml_spark.streaming import events as SE

SF_DIR = "/root/testdata/sf0.001"
WATERMARK = dt.timedelta(hours=2)


@pytest.fixture(scope="module")
def stream(spark):
    return SE.read_event_stream(spark, SF_DIR)


@pytest.fixture(scope="module")
def batch(spark):
    return load_table(spark, SF_DIR, "events")


@pytest.fixture(scope="module")
def max_ts(batch):
    return batch.agg(F.max("ts")).collect()[0][0]


def test_tumbling_counts_match_batch(spark, stream, batch, max_ts):
    SE.run_to_memory(SE.tumbling_counts(stream), "t_tumbling")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    watermark_cutoff = max_ts - WATERMARK
    expected = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .collect()
        if r["window_start"] + dt.timedelta(hours=1) <= watermark_cutoff
    }
    assert expected and got == expected


def test_sliding_counts_match_closed_windows(spark, stream, batch, max_ts):
    SE.run_to_memory(SE.sliding_counts(stream), "t_sliding")
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM t_sliding").collect()
    }
    watermark_cutoff = max_ts - WATERMARK
    expected = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in batch.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .collect()
        if r["window_start"] + dt.timedelta(hours=1) <= watermark_cutoff
    }
    assert expected and got == expected


def test_session_aggregates_match_batch_sessionize(spark, stream, batch, max_ts):
    """Streaming session_window vs the batch lag+cumsum sessionization
    (st_sessionize's oracle-checked formulation): same sessions, same
    per-session counts AND value sums. session_window's end is
    last_event+gap while the batch form reports max(ts), so ends aren't
    compared — identity is (user, session_start)."""
    SE.run_to_memory(SE.session_aggregates(stream, gap="30 minutes"), "t_sessions")
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM t_sessions").collect()
    }
    # a session is emitted once the watermark passes its end+gap
    closed = max_ts - WATERMARK - dt.timedelta(minutes=30)
    expected = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
        for r in SE.sessionize_batch(batch, gap_minutes=30).collect()
        if r["session_end"] <= closed
    }
    assert expected
    for k, (n, tv) in expected.items():
        assert k in got, f"session {k} missing from streaming output"
        assert got[k][0] == n, f"session {k} count mismatch"
        assert abs(got[k][1] - tv) < 1e-6, f"session {k} value-sum mismatch"


def test_dedup_stream(spark, stream):
    SE.run_to_memory(SE.dedup_stream(stream), "t_dedup")
    n = spark.sql("SELECT count(*) AS n FROM t_dedup").collect()[0]["n"]
    distinct_ids = spark.sql("SELECT count(DISTINCT event_id) AS n FROM t_dedup").collect()[0]["n"]
    assert n == distinct_ids > 0  # no duplicate event_ids survive


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


def test_stateful_user_totals_matches_batch(spark, tmp_path):
    """The custom applyInPandasWithState operator's final per-user state must
    equal the batch aggregate over the same input."""
    import pyspark.sql.functions as F

    from end_to_end_ml_spark.sources import load_table
    from end_to_end_ml_spark.streaming import events as SE

    sf_dir = "/root/testdata/sf0.001"
    stream = SE.read_event_stream(spark, sf_dir)
    SE.run_to_memory(SE.stateful_user_totals(stream), "t_state", output_mode="update")
    # update mode re-emits per batch; the last emission per user is the total
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.table("t_state").collect()
    }
    batch = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv")
    )
    expected = {r["user_id"]: (r["n"], r["tv"]) for r in batch.collect()}
    assert set(got) == set(expected)
    for uid, (n, tv) in expected.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - tv) < 1e-6


def test_enrich_stream_matches_batch_join(spark, stream, batch):
    """Stream-static join: joining a dimension onto the stream must produce
    exactly the batch join's rows (no state, per-microbatch broadcast)."""
    dim = (
        batch.select("event_type").distinct()
        .withColumn("type_tag", F.concat(F.lit("T-"), F.col("event_type")))
    )
    SE.run_to_memory(
        SE.enrich_stream(stream.select("event_id", "event_type"), dim, on="event_type"),
        "t_enriched",
    )
    got = {
        (r["event_id"], r["type_tag"])
        for r in spark.sql("SELECT event_id, type_tag FROM t_enriched").collect()
    }
    expected = {
        (r["event_id"], "T-" + r["event_type"])
        for r in batch.select("event_id", "event_type").collect()
    }
    assert got == expected


def test_write_stream_parquet_roundtrip(spark, stream, batch, tmp_path):
    """foreachBatch parquet sink: all streamed rows land in parquet exactly
    once (checkpointed epochs), partitioned output readable as a batch."""
    out = str(tmp_path / "events_out")
    ck = str(tmp_path / "ck")
    SE.write_stream_parquet(
        stream.select("event_id", "event_type"), out, ck, partition_by=["event_type"]
    )
    back = spark.read.parquet(out)
    assert back.count() == batch.count()
    assert back.select("event_id").distinct().count() == batch.count()


def test_interval_join_matches_batch(spark, stream, batch):
    """Stream-stream interval join (purchase <- preceding views within 1h)
    must reproduce the batch interval join exactly — watermarks only bound
    state, never drop in-range matches when the whole input is replayed."""
    purchases = stream.filter(F.col("event_type") == "purchase")
    views = stream.filter(F.col("event_type") == "view")
    SE.run_to_memory(SE.interval_join(purchases, views), "t_attrib")
    got = {
        (r["l_id"], r["r_id"])
        for r in spark.sql("SELECT * FROM t_attrib").collect()
    }
    bp = batch.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("l_id"), F.col("user_id").alias("u"), F.col("ts").alias("l_ts")
    )
    bv = batch.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("r_id"), F.col("user_id").alias("v"), F.col("ts").alias("r_ts")
    )
    expected = {
        (r["l_id"], r["r_id"])
        for r in bp.join(
            bv,
            (F.col("u") == F.col("v"))
            & (F.col("r_ts") <= F.col("l_ts"))
            & (F.col("r_ts") > F.col("l_ts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert expected  # non-vacuous on this data
    assert got == expected


def test_transform_with_state_matches_batch(spark, tmp_path):
    """The Spark-4 transformWithStateInPandas processor must produce the
    same final per-user totals as the batch aggregate (and as the legacy
    applyInPandasWithState operator it supersedes). Needs the RocksDB
    state store provider, and the state-server protocol needs a working
    ``protobuf`` python package — absent from this container, so the test
    skips there (same import-gating policy as the boosting libs)."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("transformWithState requires the protobuf package")

    import pyspark.sql.functions as F

    from end_to_end_ml_spark.sources import load_table
    from end_to_end_ml_spark.streaming import events as SE

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        sf_dir = "/root/testdata/sf0.001"
        stream = SE.read_event_stream(spark, sf_dir)
        SE.run_to_memory(
            SE.stateful_user_totals_tws(stream), "t_tws", output_mode="update"
        )
        got = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in spark.table("t_tws").collect()
        }
        batch = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv")
        )
        expected = {r["user_id"]: (r["n"], r["tv"]) for r in batch.collect()}
        assert set(got) == set(expected)
        for uid, (n, tv) in expected.items():
            assert got[uid][0] == n
            assert abs(got[uid][1] - tv) < 1e-6
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_sessionize_stateful_matches_batch(spark, stream, batch):
    """The custom applyInPandasWithState sessionizer must produce the same
    (user, start, end, count, value-sum) sessions as the batch lag+cumsum
    formulation. Sessions still OPEN at end-of-input (each user's last
    session, plus any the final watermark never flushed) are excluded —
    append-mode semantics, same as the built-in session_window test."""
    SE.run_to_memory(
        SE.sessionize_stateful(stream, gap_minutes=30), "t_state_sessions"
    )
    got = {
        (r["user_id"], r["session_start"]): (
            r["session_end"],
            r["n_events"],
            r["total_value"],
        )
        for r in spark.table("t_state_sessions").collect()
    }
    assert got, "stateful sessionizer emitted nothing"
    all_batch = SE.sessionize_batch(batch, gap_minutes=30).collect()
    last_start = {}
    for r in all_batch:
        k = r["user_id"]
        if k not in last_start or r["session_start"] > last_start[k]:
            last_start[k] = r["session_start"]
    # every emitted session must match its batch twin exactly
    expected = {
        (r["user_id"], r["session_start"]): (
            r["session_end"],
            r["n_events"],
            r["total_value"],
        )
        for r in all_batch
    }
    for k, (end, n, tv) in got.items():
        assert k in expected, f"spurious session {k}"
        e_end, e_n, e_tv = expected[k]
        assert end == e_end, f"session {k} end mismatch"
        assert n == e_n, f"session {k} count mismatch"
        assert abs(tv - e_tv) < 1e-6, f"session {k} value mismatch"
    # and all closed-by-a-successor sessions must have been emitted
    missing = [
        k for k in expected if k[1] != last_start[k[0]] and k not in got
    ]
    assert not missing, f"closed sessions never emitted: {missing[:5]}"


def test_stream_upsert_snapshot_matches_batch_latest(spark, batch, tmp_path):
    """CDC upsert sink: stream the events table in 3 micro-batches keyed by
    (user_id, event_type); the final snapshot must equal the batch
    latest-per-key, and intermediate versions must exist (merge ran
    incrementally, not once)."""
    from end_to_end_ml_spark.sources.io import latest_per_key

    src = str(tmp_path / "src")
    # 3 files -> 3 micro-batches under maxFilesPerTrigger=1
    batch.repartition(3).write.parquet(src)
    file_schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(file_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    snap_path = str(tmp_path / "snap")
    SE.stream_upsert_snapshot(
        stream,
        snap_path,
        ["user_id", "event_type"],
        "ts",
        str(tmp_path / "ck"),
        tiebreak_cols=["event_id"],
    )
    versions = SE._snapshot_versions(snap_path)
    assert len(versions) >= 2, "expected multiple incremental merge epochs"
    got = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in SE.read_latest_snapshot(spark, snap_path).collect()
    }
    expected = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in latest_per_key(
            batch, ["user_id", "event_type"], "ts", tiebreak_cols=["event_id"]
        ).collect()
    }
    assert got == expected


def test_sessionize_stateful_late_event_cannot_regress_session_end(spark, tmp_path):
    """A late (out-of-order across micro-batches, within-watermark) event
    with t earlier than the open session's last event must only widen the
    session — never pull its end (and EventTimeTimeout) backwards. Before
    the clamp fix, batch 2's 00:10 straggler set last=00:10, so the 01:30
    event closed session 1 with the WRONG end and the emitted row carried
    end=00:10 instead of 00:20."""
    import os

    import pandas as pd

    src = str(tmp_path / "src")
    os.makedirs(src)

    def write_file(name, rows, mtime):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "ts", "value"]
        ).astype({"event_id": "int64", "user_id": "int64", "value": "float64"})
        # tz-aware UTC + microsecond unit so parquet carries
        # isAdjustedToUTC=true TIMESTAMP(us) — what withWatermark needs
        pdf["ts"] = (
            pd.to_datetime(pdf["ts"]).dt.tz_localize("UTC").astype("datetime64[us, UTC]")
        )
        path = os.path.join(src, name)
        pdf.to_parquet(path)
        os.utime(path, (mtime, mtime))

    # batch 1: user 100 opens a session [00:00 .. 00:20]
    write_file(
        "f1.parquet",
        [(1, 100, "2024-01-01 00:00:00", 1.0), (2, 100, "2024-01-01 00:20:00", 1.0)],
        1_000_000,
    )
    # batch 2: a LATE within-gap event (00:10 < last=00:20), then 01:30
    # (gap > 30m from 00:20) closes session 1; user 999 pushes the
    # watermark to 06:00-2h = 04:00
    write_file(
        "f2.parquet",
        [
            (3, 100, "2024-01-01 00:10:00", 1.0),
            (4, 100, "2024-01-01 01:30:00", 1.0),
            (5, 999, "2024-01-01 06:00:00", 1.0),
        ],
        2_000_000,
    )
    # batch 3: advances processing so the 04:00 watermark fires the
    # EventTimeTimeout that flushes user 100's session 2 (ends 01:30+gap)
    write_file("f3.parquet", [(6, 999, "2024-01-01 07:00:00", 1.0)], 3_000_000)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    SE.run_to_memory(
        SE.sessionize_stateful(stream, gap_minutes=30), "t_late_sessions"
    )
    got = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in spark.table("t_late_sessions").collect()
    }
    s1_key = (100, dt.datetime(2024, 1, 1, 0, 0))
    assert s1_key in got, f"session 1 never emitted: {got}"
    end, n = got[s1_key]
    assert n == 3  # the straggler still counts
    assert end == dt.datetime(2024, 1, 1, 0, 20), (
        f"late event regressed session end to {end}"
    )


def test_interval_join_outer_matches_batch(spark, stream, batch):
    """Left-outer stream-stream interval join: matched pairs equal the
    inner join's; left rows whose candidate window closed with no match
    are emitted exactly once with NULL right columns. Rows whose window
    the final watermark never closed may be withheld — the comparison
    only requires every batch-unmatched purchase older than the final
    watermark to appear as a null-join."""
    purchases = stream.filter(F.col("event_type") == "purchase")
    views = stream.filter(F.col("event_type") == "view")
    SE.run_to_memory(SE.interval_join_outer(purchases, views), "t_attrib_outer")
    rows = spark.sql("SELECT * FROM t_attrib_outer").collect()
    got_matched = {(r["l_id"], r["r_id"]) for r in rows if r["r_id"] is not None}
    got_null = {r["l_id"] for r in rows if r["r_id"] is None}
    bp = batch.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("l_id"), F.col("user_id").alias("u"), F.col("ts").alias("l_ts")
    )
    bv = batch.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("r_id"), F.col("user_id").alias("v"), F.col("ts").alias("r_ts")
    )
    matched = bp.join(
        bv,
        (F.col("u") == F.col("v"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") > F.col("l_ts") - F.expr("INTERVAL 1 hour")),
    )
    expected_matched = {(r["l_id"], r["r_id"]) for r in matched.collect()}
    assert got_matched == expected_matched
    # batch-side unmatched purchases old enough that the watermark closed
    # their window must surface as null-joins; no matched id may be null
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    closed = max_ts - WATERMARK - dt.timedelta(hours=1)
    matched_ids = {p for p, _ in expected_matched}
    expected_null = {
        r["l_id"]
        for r in bp.join(matched.select("l_id"), "l_id", "left_anti").collect()
        if r["l_ts"] <= closed
    }
    assert not (got_null & matched_ids)
    assert expected_null <= got_null


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
