"""Structured Streaming maintenance sinks over event and document streams
(engine extension — the reference is batch-only, SURVEY §2.12), plus the
batch sessionizer the registry's sessions query uses.

Every sink is a ``foreachBatch`` over a VERSIONED parquet store: epoch N
writes ``store_path/v=<N>`` from the newest version strictly below N and
never overwrites what it reads (an in-place overwrite of a lazily-read
input drops the data before the new rows are computed). A crash replay
of epoch N rewrites its own version directory, and readers only ever see
the max version. On a table format (Delta/Iceberg) the same sink is a
MERGE INTO; versioning is what plain parquet needs for the same
semantics. Each sink drains available input synchronously
(``processAllAvailable``), then stops.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization (lag + cumulative gap-count) — the classic SQL
    formulation, over the full history at rest. One shuffle on user_id."""
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
    """Read the newest version (``path/v=<max epoch>``) of a versioned
    store."""
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

    The store is VERSIONED (``store_path/v=<epoch>`` written from the
    previous version, never overwriting what it reads), and accepted docs
    land in per-epoch directories (``out_path/epoch=<id>``, overwritten
    on replay) — so a crashed epoch's retry rewrites its own outputs and
    the ingest is exactly-once at the directory level without a table
    format. Cross-batch state is
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

    Store layout/versioning as in the module docstring (``store_path/
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
    stream_dedup_ingest / stream_hll_ingest; synchronous drain.
    Scaffolding shared via _versioned_sketch_sink."""
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
