"""Structured Streaming surface over event tables (engine extension — the
reference is batch-only, SURVEY §2.12; this is the scale-out path for the
``events`` schema the driver ships).

Every aggregation here has a batch-equivalent in plans/entry_queries
(st_hourly_window) so correctness is oracle-checkable in batch mode while
the streaming form adds watermarks + incremental state.

Scale notes:
- Watermark bounds state: late rows beyond it are dropped, so state size is
  O(active windows × groups), not O(stream length).
- ``dropDuplicatesWithinWatermark`` gives at-least-once dedup with bounded
  state — the streaming form of P6.
- session_window state is per (user, gap-session); AQE doesn't apply to
  streaming shuffles, so shuffle partitions are set by the session factory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

def read_event_stream(spark: SparkSession, directory: str, glob: str = "events.parquet") -> DataFrame:
    """File-source stream of the events table (parquet). The file source
    needs a *directory* (new files appear → new micro-batches); ``glob``
    selects the table's files within it. In production the same
    transformations run off Kafka — only this reader changes.

    The schema is read from the files themselves (one batch-read of the
    footer — metadata only, no data scan) instead of being hardcoded:
    how the TIMESTAMP(NANOS) ``ts`` column surfaces varies by Spark
    version, and assuming one encoding turns a version bump into silently
    mis-scaled timestamps. ``normalize_event_ts`` raises on encodings it
    doesn't recognize."""
    from end_to_end_ml_spark.sources.io import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    file_schema = (
        spark.read.option("pathGlobFilter", glob).parquet(directory).schema
    )
    raw = (
        spark.readStream.schema(file_schema)
        .format("parquet")
        .option("pathGlobFilter", glob)
        .load(directory)
    )
    return normalize_event_ts(raw)


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts+sums by event_type (streaming form
    of st_hourly_window)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window event rates."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_aggregates(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (gap-based): session bounds + event count +
    value sum. State is bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming P6: drop duplicate event_ids within the watermark horizon
    (bounded-state exactly-once-per-horizon semantics)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Test/demo sink: drive the streaming query over all available input
    synchronously and leave results in the in-memory table ``name``."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization (lag + cumulative gap-count) — the classic SQL
    formulation, usable as an oracle for session_window and at rest over the
    full history. One shuffle on user_id."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = (
        F.when(gap.isNull(), 1)
        .when(F.unix_micros(F.col("ts")) - gap > gap_minutes * 60 * 1_000_000, 1)
        .otherwise(0)
    )
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    tagged = events.withColumn("session_seq", F.sum(new_session).over(w_cum))
    return (
        tagged.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


def stateful_user_totals(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-user running totals carried across micro-batches — semantics the
    built-in windowed aggregations can't express (an ever-growing cumulative
    re-emitted on every batch, in ``update`` mode).

    Scale shape: state is one tiny (n, total) tuple per user key, partitioned
    by user across executors; each micro-batch touches only the users present
    in that batch. Arrow-batched pandas transfer, no per-row Python."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            "user_id long, n_events long, total_value double",
            "n long, total double",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_stateful(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based sessionization as a CUSTOM stateful operator
    (``applyInPandasWithState``) — the hand-rolled equivalent of
    ``F.session_window`` (see :func:`session_aggregates`), kept as the
    template for session semantics the built-in can't express (e.g. a
    per-session distinct count or an early-exit rule folded into state).

    State per user: the one OPEN session (start, last event ts, n, value
    sum). Each micro-batch folds its rows in event-time order: a row within
    ``gap_minutes`` of the last event extends the session; a later row
    closes it (the closed session is emitted) and opens a new one. An
    EventTimeTimeout set to last_ts+gap flushes the open session once the
    watermark passes it, so state stays bounded exactly like the built-in's.

    Scale shape: state is ONE tuple per active user, hash-partitioned by
    user across executors; each batch moves only its own rows (Arrow
    batches, no per-row Python)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def to_us(series):
        # Arrow hands ts as datetime64[ns] (session-TZ naive, UTC here):
        # int64 view is nanoseconds since epoch
        return series.astype("int64") // 1000

    def update(key, pdfs, state):
        out = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n, tv = state.get
                out.append((key[0], start, last, n, tv))
                state.remove()
            return iter(
                [
                    pd.DataFrame(
                        out,
                        columns=[
                            "user_id",
                            "start_us",
                            "end_us",
                            "n_events",
                            "total_value",
                        ],
                    )
                ]
            )
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        ts_us = to_us(rows["ts"])
        cur = state.get if state.exists else None  # (start, last, n, tv)
        for t, v in zip(ts_us.tolist(), rows["value"].tolist()):
            if cur is None:
                cur = (t, t, 1, float(v))
            elif t - cur[1] > gap_us:
                out.append((key[0], *cur))
                cur = (t, t, 1, float(v))
            else:
                # late (out-of-order across micro-batches, within-watermark)
                # events may carry t < cur[1] — or even t < cur[0]; clamp so
                # a straggler can only widen the session, never regress its
                # end (which would also pull the EventTimeTimeout earlier
                # and close the session prematurely, mis-splitting the rest)
                cur = (
                    min(cur[0], t),
                    max(cur[1], t),
                    cur[2] + 1,
                    cur[3] + float(v),
                )
        state.update(cur)
        state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)  # ms epoch
        return iter(
            [
                pd.DataFrame(
                    out,
                    columns=["user_id", "start_us", "end_us", "n_events", "total_value"],
                )
            ]
        )

    raw = (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            "user_id long, start_us long, end_us long, n_events long, total_value double",
            "start long, last long, n long, tv double",
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return raw.select(
        "user_id",
        F.timestamp_micros(F.col("start_us")).alias("session_start"),
        F.timestamp_micros(F.col("end_us")).alias("session_end"),
        "n_events",
        "total_value",
    )


def enrich_stream(events: DataFrame, dim: DataFrame, on: str, how: str = "left") -> DataFrame:
    """Stream-static join: enrich the event stream with a (batch) dimension
    table. Spark plans the static side as a broadcast against each
    micro-batch, so no streaming state is kept at all — the canonical way
    to attach user/item attributes to events at any scale. The dim frame
    is re-resolved per micro-batch, so slowly-changing dims pick up
    updates on the next trigger."""
    return events.join(F.broadcast(dim), on=on, how=how)


def write_stream_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    partition_by: list[str] | None = None,
    query_name: str = "to_parquet",
):
    """Checkpointed parquet sink via foreachBatch: each micro-batch appends
    atomically, exactly-once per epoch under the checkpoint (the file-sink
    commit log). foreachBatch (rather than the direct parquet sink) so
    aggregated streams in update/complete mode can also land in parquet,
    and so a batch-side ``partition_by`` works identically to
    sources.io.write_parquet. Synchronous like run_to_memory: drains all
    available input, then stops."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        writer = batch_df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    q = (
        stream_df.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def interval_join(
    left: DataFrame,
    right: DataFrame,
    user_col: str = "user_id",
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream INTERVAL join: pair each left event with
    the same user's right events whose timestamp falls in
    (left.ts - max_lag, left.ts] — the attribution-join shape ("which
    views preceded this purchase within the hour").

    Both sides carry watermarks and the join condition time-bounds the
    match range, so Spark derives a state-retention bound for each side
    (state is dropped once the other side's watermark passes the possible
    match window) — without the time bound a stream-stream join would
    buffer forever. Output columns: (l_id, r_id, user, l_ts, r_ts)."""
    l = left.select(
        F.col("event_id").alias("l_id"),
        F.col(user_col).alias("l_user"),
        F.col("ts").alias("l_ts"),
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col("event_id").alias("r_id"),
        F.col(user_col).alias("r_user"),
        F.col("ts").alias("r_ts"),
    ).withWatermark("r_ts", watermark)
    lag = F.expr(f"INTERVAL {max_lag}")
    return l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") > F.col("l_ts") - lag),
        "inner",
    ).select(
        "l_id", "r_id", F.col("l_user").alias("user_id"), "l_ts", "r_ts"
    )


def interval_join_outer(
    left: DataFrame,
    right: DataFrame,
    user_col: str = "user_id",
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER variant of :func:`interval_join`: every left event is
    emitted, with NULL right columns when no same-user right event landed
    in (left.ts - max_lag, left.ts] — the "purchases with NO preceding
    view" attribution gap report. Outer stream-stream joins need BOTH the
    watermarks and the time-bound condition for a second reason beyond
    state retention: a left row can only be emitted as unmatched once the
    right watermark has passed its entire candidate window (before that a
    match could still arrive), so null-joined rows trail the watermark
    rather than appearing immediately. State bound and shuffle shape are
    identical to the inner form."""
    l = left.select(
        F.col("event_id").alias("l_id"),
        F.col(user_col).alias("l_user"),
        F.col("ts").alias("l_ts"),
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col("event_id").alias("r_id"),
        F.col(user_col).alias("r_user"),
        F.col("ts").alias("r_ts"),
    ).withWatermark("r_ts", watermark)
    lag = F.expr(f"INTERVAL {max_lag}")
    return l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") > F.col("l_ts") - lag),
        "left_outer",
    ).select(
        "l_id", "r_id", F.col("l_user").alias("user_id"), "l_ts", "r_ts"
    )


def stateful_user_totals_tws(events: DataFrame) -> DataFrame:
    """The Spark 4 ``transformWithStateInPandas`` form of
    :func:`stateful_user_totals` — same per-user running totals, written
    against the arbitrary-stateful-processor API that supersedes
    ``applyInPandasWithState`` (typed value state on a handle, explicit
    init/close lifecycle, composable timers). Requires the RocksDB state
    store provider, and a working ``protobuf`` python package for the
    state-server protocol.

    EXPERIMENTAL support status: ``protobuf`` is absent from this
    container, so the batch-parity equivalence test import-gates and
    skips here — this operator is the one surface in the repo that CI
    cannot execute end-to-end. The test auto-unskips wherever protobuf
    is installed; prefer :func:`stateful_user_totals`
    (``applyInPandasWithState``, fully tested) until then.

    Scale shape is unchanged: one tiny state row per user key in the
    executor-local RocksDB store, Arrow-batched input, only keys present
    in a micro-batch are touched."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, total = self._state.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def stream_upsert_snapshot(
    stream_df: DataFrame,
    path: str,
    key_cols: list[str],
    ts_col: str,
    checkpoint_dir: str,
    tiebreak_cols: list[str] | None = None,
    query_name: str = "upsert_snapshot",
):
    """Streaming state table with EVENT-TIME last-writer-wins: every
    micro-batch is merged into a parquet snapshot keeping, per key, the row
    with the greatest (ts, tiebreak) — the continuously-maintained
    online/feature table a CDC stream feeds. Event-time (not arrival-order)
    wins, so the final snapshot is independent of how the source splits
    into micro-batches or which file arrives first — late/out-of-order
    changes can never clobber a newer state. (Arrival-order CDC semantics
    — change always beats base — is operators/merge.merge_upsert; use it
    in a foreachBatch only when the transport guarantees per-key order.)

    Snapshots are VERSIONED (``path/v=<epoch>``): a batch writes the next
    version from the previous one, never overwriting what it reads (an
    in-place overwrite of a lazily-read input drops the data before the
    new rows are computed). Epoch replays after a crash are idempotent —
    the retried epoch rewrites its own version directory under the same
    id, and ``read_latest_snapshot`` only ever sees the max version; the
    union-with-base also makes replaying an already-applied batch a no-op.
    On a table format (Delta/Iceberg) the same sink is MERGE INTO;
    versioning here is what plain parquet needs for identical semantics.

    Scale: the union + per-key window shuffles (snapshot + batch) on the
    key once per epoch; writing the snapshot bucketed on the key would
    make successive merges co-located. Synchronous: drains available
    input, then stops."""
    import os

    from end_to_end_ml_spark.sources.io import latest_per_key

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        versions = _snapshot_versions(path)
        prior = [v for v in versions if v < epoch_id]
        merged = batch_df
        if prior:
            base = spark.read.parquet(os.path.join(path, f"v={max(prior)}"))
            merged = base.unionByName(batch_df)
        snap = latest_per_key(
            merged, key_cols, ts_col, tiebreak_cols=tiebreak_cols
        )
        snap.write.mode("overwrite").parquet(os.path.join(path, f"v={epoch_id}"))

    q = (
        stream_df.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def _snapshot_versions(path: str) -> list[int]:
    import os

    if not os.path.isdir(path):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    )


def read_latest_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Read the newest version of a stream_upsert_snapshot state table."""
    import os

    versions = _snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions under {path}")
    return spark.read.parquet(os.path.join(path, f"v={versions[-1]}"))


def stream_dedup_ingest(
    stream_df: DataFrame,
    out_path: str,
    store_path: str,
    id_col: str,
    text_col: str,
    checkpoint_dir: str,
    query_name: str = "dedup_ingest",
):
    """Streaming twin of the batch incremental-dedup ingest (pipe6): each
    micro-batch of documents is deduplicated (a) within itself by content
    fingerprint (keep-min on id) and (b) against the PERSISTENT
    fingerprint store by LEFT ANTI join; only never-seen content is
    appended to ``out_path``, and the store gains the accepted
    fingerprints. Fingerprint = md5 of the normalized first-8-token
    prefix, the same convention as pipe6.

    The store is VERSIONED like stream_upsert_snapshot (``store_path/
    v=<epoch>`` written from the previous version, never overwriting what
    it reads), and accepted docs land in per-epoch directories
    (``out_path/epoch=<id>``, overwritten on replay) — so a crashed
    epoch's retry rewrites its own outputs and the ingest is exactly-once
    at the directory level without a table format. Cross-batch state is
    16 bytes per EVER-ACCEPTED doc (fingerprints only, never text), the
    anti-join broadcasts while the store is small and co-partitions
    after. Synchronous drain (processAllAvailable), like the other
    foreachBatch sinks here.

    LIFECYCLE CONTRACT: ``checkpoint_dir`` and ``store_path`` live and
    die together. Epoch ids come from the checkpoint; the store is
    versioned by epoch (``v=<epoch>``), and each batch seeds its
    anti-join from the newest version STRICTLY BELOW its epoch id (the
    state before this epoch — what makes crash-replay idempotent: a
    retry of epoch N ignores the v=N its failed attempt may have
    written). Restarting against an existing store with a FRESH
    checkpoint resets epoch ids to 0, which would silently ignore the
    store and overwrite its early versions — so any store version
    AHEAD of the current epoch (v > epoch_id, impossible under a
    consistent checkpoint) raises instead of corrupting the chain. A
    store whose only version is v=0 paired with a fresh checkpoint is
    indistinguishable from a replay of epoch 0 and cannot be caught —
    hence the contract above, not just the guard."""
    import os

    from ..operators.text import prefix_fingerprint_column

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.withColumn("__fp", prefix_fingerprint_column(text_col))
        w = Window.partitionBy("__fp").orderBy(id_col)
        within = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        versions = _snapshot_versions(store_path)
        ahead = [v for v in versions if v > epoch_id]
        if ahead:
            raise RuntimeError(
                f"fingerprint store {store_path} has versions {ahead} ahead "
                f"of epoch {epoch_id}: the checkpoint was reset against an "
                "existing store (checkpoint_dir and store_path must live/die "
                "together). Refusing to overwrite the version chain."
            )
        prior = [v for v in versions if v < epoch_id]
        if prior:
            store = spark.read.parquet(
                os.path.join(store_path, f"v={max(prior)}")
            )
            accepted = within.join(
                store, within["__fp"] == store["fp"], "left_anti"
            )
            new_store = store.unionByName(
                accepted.select(F.col("__fp").alias("fp"))
            ).distinct()
        else:
            accepted = within
            new_store = accepted.select(F.col("__fp").alias("fp")).distinct()
        accepted.drop("__fp").write.mode("overwrite").parquet(
            os.path.join(out_path, f"epoch={epoch_id}")
        )
        new_store.write.mode("overwrite").parquet(
            os.path.join(store_path, f"v={epoch_id}")
        )

    q = (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def _versioned_sketch_sink(
    stream_df: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    query_name: str,
    store_kind: str,
    build_batch,
    merge,
):
    """Shared scaffolding of the sketch-maintenance sinks (HLL /
    Count-Min / histogram): per micro-batch, build the batch's daily
    sketch rows (``build_batch``), combine them with the newest store
    version strictly below the epoch (``merge``), and write
    ``store_path/v=<epoch>``. One implementation carries the lifecycle
    contract for all three — the ahead-version guard (a fresh checkpoint
    against an existing store refuses rather than rewriting the version
    chain), write-next-from-previous versioning, crash replays rewriting
    their own version, and the synchronous drain."""
    import os

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        versions = _snapshot_versions(store_path)
        ahead = [v for v in versions if v > epoch_id]
        if ahead:
            raise RuntimeError(
                f"{store_kind} store {store_path} has versions {ahead} ahead "
                f"of epoch {epoch_id}: the checkpoint was reset against an "
                "existing store (checkpoint_dir and store_path must live/die "
                "together)."
            )
        daily = build_batch(batch_df)
        prior = [v for v in versions if v < epoch_id]
        if prior:
            base = spark.read.parquet(os.path.join(store_path, f"v={max(prior)}"))
            daily = merge(base, daily)
        daily.write.mode("overwrite").parquet(
            os.path.join(store_path, f"v={epoch_id}")
        )

    q = (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def stream_hll_ingest(
    stream_df: DataFrame,
    store_path: str,
    key_col: str,
    ts_col: str,
    group_col: str,
    checkpoint_dir: str,
    p: int = 6,
    query_name: str = "hll_ingest",
):
    """Streaming distinct-count maintenance via the md5-derived HLL
    register sketch (operators/timeseries.hll_registers): each
    micro-batch's register rows MAX-merge into a versioned store — the
    mergeable-sketch pattern that makes streaming distinct counts O(2^p)
    state per (day, group) at ANY cardinality, where exact distinct
    would hold every key ever seen. Because HLL union is max-combine
    (associative, commutative, IDEMPOTENT), the final store equals the
    batch-built sketch over all events regardless of how the source
    splits into micro-batches, which arrives first, or whether an epoch
    replays — parity with the batch operator is pytest-pinned.

    Store layout/versioning follows stream_upsert_snapshot (``store_path/
    v=<epoch>``, write-next-from-previous, crash replays rewrite their
    own version); same lifecycle contract as stream_dedup_ingest — the
    guard refuses a fresh checkpoint against a store with versions ahead
    of the current epoch. Synchronous drain, like the other foreachBatch
    sinks here. Scaffolding shared via _versioned_sketch_sink."""
    from ..operators.timeseries import hll_registers, hll_registers_rollup

    return _versioned_sketch_sink(
        stream_df,
        store_path,
        checkpoint_dir,
        query_name,
        "HLL register",
        build_batch=lambda batch_df: hll_registers_rollup(
            hll_registers(batch_df, key_col, ts_col, group_col, p=p),
            group_col=group_col,
        ),
        merge=lambda base, daily: (
            base.unionByName(daily)
            .groupBy("day", group_col, "idx")
            .agg(F.max("max_rho").alias("max_rho"))
        ),
    )


def stream_countmin_ingest(
    stream_df: DataFrame,
    store_path: str,
    key_col: str,
    ts_col: str,
    checkpoint_dir: str,
    d: int = 4,
    w: int = 256,
    query_name: str = "cm_ingest",
):
    """Streaming heavy-hitter frequency maintenance via the md5 Count-Min
    sketch (operators/timeseries.countmin_sketch): each micro-batch's
    per-day sketch rows SUM-merge into a versioned store, completing the
    streaming-sketch family (HLL = distinct counts, Count-Min =
    frequencies, dedup = exact membership). State is ≤ d·w rows per day
    at ANY key cardinality.

    Replay-safety argument differs from stream_hll_ingest and is worth
    stating: Count-Min union is counter ADDITION — associative and
    commutative but NOT idempotent — so a replayed epoch cannot be
    absorbed by the merge itself (it would double-count). Safety comes
    from the versioned store instead: epoch N's output is a PURE
    FUNCTION of (version < N, batch N), both deterministic, so a crash
    replay of epoch N rewrites ``v=N`` byte-identically rather than
    re-adding. Same store layout and fresh-checkpoint guard as
    stream_upsert_snapshot / stream_dedup_ingest / stream_hll_ingest;
    synchronous drain. Scaffolding shared via _versioned_sketch_sink."""
    from ..operators.timeseries import countmin_sketch

    return _versioned_sketch_sink(
        stream_df,
        store_path,
        checkpoint_dir,
        query_name,
        "Count-Min",
        build_batch=lambda batch_df: countmin_sketch(
            batch_df, key_col, F.to_date(F.col(ts_col)), d=d, w=w
        ).withColumnRenamed("bucket", "day"),
        merge=lambda base, daily: (
            base.unionByName(daily)
            .groupBy("day", "row_i", "col")
            .agg(F.sum("cnt").alias("cnt"))
        ),
    )


def stream_histogram_ingest(
    stream_df: DataFrame,
    store_path: str,
    group_col: str,
    ts_col: str,
    value_col: str,
    checkpoint_dir: str,
    bin_width: float = 10.0,
    query_name: str = "hist_ingest",
):
    """Streaming QUANTILE maintenance via the mergeable fixed-width
    histogram sketch (operators/timeseries.histogram_sketch): each
    micro-batch's per-day (group, bin) counts SUM-merge into a versioned
    store, from which histogram_quantiles reads P50/P90/P99 at any time.
    Fourth member of the streaming-sketch family (HLL = distinct,
    Count-Min = frequency, dedup = exact membership, histogram =
    quantiles); state is O(groups × bins) rows per day at ANY event
    volume.

    Replay safety is the Count-Min argument, not the HLL one: histogram
    union is counter ADDITION (associative, commutative, NOT
    idempotent), so a replayed epoch is absorbed by the versioned store
    — epoch N's output is a pure function of (version < N, batch N),
    both deterministic, so a crash replay rewrites ``v=N``
    byte-identically instead of double-counting. Same store layout and
    fresh-checkpoint guard as the other ingest sinks; synchronous
    drain. Scaffolding shared via _versioned_sketch_sink."""
    from ..operators.timeseries import histogram_sketch

    return _versioned_sketch_sink(
        stream_df,
        store_path,
        checkpoint_dir,
        query_name,
        "histogram",
        build_batch=lambda batch_df: histogram_sketch(
            batch_df, ts_col, group_col, value_col, bin_width=bin_width
        ).withColumnRenamed("bucket", "day"),
        merge=lambda base, daily: (
            base.unionByName(daily)
            .groupBy(group_col, "day", "bin")
            .agg(F.sum("n").cast("long").alias("n"))
        ),
    )


def stream_dsir_counts_ingest(
    stream_df: DataFrame,
    store_path: str,
    is_target_col: str,
    text_col: str,
    checkpoint_dir: str,
    n_buckets: int = 256,
    query_name: str = "dsir_ingest",
):
    """Streaming DSIR distribution maintenance: each micro-batch's hashed
    word-bigram bucket counts — (bucket, t_count, r_count), split by the
    boolean target flag — SUM-merge into a versioned store, from which
    :func:`dsir_weights_from_store` derives the current integer
    importance-weight table at any time. Fifth member of the
    streaming-sketch family (HLL = distinct, Count-Min = frequency,
    dedup = membership, histogram = quantiles, DSIR = importance
    distributions); state is ≤ n_buckets rows at ANY corpus size, and a
    nightly selection job never rescans the historical corpus to rebuild
    its target/raw models.

    Replay safety is the Count-Min argument: bucket-count union is
    counter ADDITION (associative, commutative, NOT idempotent), so a
    replayed epoch is absorbed by the versioned store — epoch N's output
    is a pure function of (version < N, batch N), both deterministic, so
    a crash replay rewrites ``v=N`` byte-identically instead of
    double-counting. NULL-flag rows count toward neither distribution
    (filtered before the explode), matching
    operators/text.dsir_bucket_weights_from_flag. Same store layout and
    fresh-checkpoint guard as the other ingest sinks; synchronous drain.
    Scaffolding shared via _versioned_sketch_sink."""
    from ..operators.text import hashed_bigram_buckets

    def build(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.filter(F.col(is_target_col).isNotNull())
            .select(
                F.col(is_target_col).alias("__is_tgt"),
                F.explode(hashed_bigram_buckets(text_col, n_buckets)).alias(
                    "bucket"
                ),
            )
            .groupBy("bucket")
            .agg(
                F.sum(F.when(F.col("__is_tgt"), 1).otherwise(0))
                .cast("long")
                .alias("t_count"),
                F.sum(F.when(~F.col("__is_tgt"), 1).otherwise(0))
                .cast("long")
                .alias("r_count"),
            )
        )

    return _versioned_sketch_sink(
        stream_df,
        store_path,
        checkpoint_dir,
        query_name,
        "DSIR bucket-count",
        build_batch=build,
        merge=lambda base, daily: (
            base.unionByName(daily)
            .groupBy("bucket")
            .agg(
                F.sum("t_count").cast("long").alias("t_count"),
                F.sum("r_count").cast("long").alias("r_count"),
            )
        ),
    )


def dsir_weights_from_store(
    spark: SparkSession, store_path: str, scale_x: int = 65536
) -> DataFrame:
    """Derive the current DSIR integer importance-weight table from the
    newest version of a :func:`stream_dsir_counts_ingest` store — the
    same ((t+1)·scale_x) div (r+1) surrogate as
    operators/text.dsir_bucket_weights, restricted to buckets the raw
    pool has actually populated. ≤ n_buckets rows; broadcast it into
    dsir_scores/dsir_select — and when the scored docs are NOT already
    counted into the store, pass ``dsir_scores(floor_unseen=True)`` so
    unseen-bucket bigrams receive the add-one floor instead of vanishing
    (round-10 ADVICE); the floor is derived from the scale_x metadata
    this table carries, so a non-default ``scale_x`` here can never
    silently mis-floor (round-11 ADVICE #4). Delegates to
    operators/text.dsir_weights_from_counts (one formula, batch +
    streaming)."""
    from ..operators.text import dsir_weights_from_counts

    return dsir_weights_from_counts(
        read_latest_snapshot(spark, store_path), scale_x=scale_x
    )
