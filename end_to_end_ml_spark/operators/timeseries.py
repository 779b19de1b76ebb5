"""Timeseries operators over event tables — the hypertable-style surface a
training-data pipeline needs on top of the reference's batch semantics
(the reference itself has no timeseries ops; its only temporal machinery is
the event_timestamp column and the time split, SURVEY §1.1).

Scale shapes:
- downsample/gap-fill: one shuffle on the entity key; the dense grid is
  generated per key with ``sequence`` (no driver loop, no cross join) and its
  size is bounded by the key's own time span.
- time-weighted average: one window (lead) + one aggregation; weights are
  exact integer durations and values are summed as DECIMAL so results are
  engine-exact (DuckDB-oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import checkpoint_at_scale


def hourly_downsample(
    events: DataFrame, key_col: str, ts_col: str, value_col: str
) -> DataFrame:
    """Per-key hourly buckets with count + exact decimal sum + avg."""
    bucket = F.date_trunc("hour", F.col(ts_col)).alias("bucket")
    return (
        events.groupBy(F.col(key_col), bucket)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .orderBy(key_col, "bucket")
    )


def gap_fill_hourly(
    events: DataFrame, key_col: str, ts_col: str, value_col: str
) -> DataFrame:
    """Dense hourly grid per key from its first to its last observation,
    forward-filling the last observed hourly average into empty buckets
    (NULL until the first observation — none exist by construction since the
    grid starts at the first one).

    The grid is ``sequence(min_bucket, max_bucket, 1 hour)`` exploded per
    key — generated where the key's data lives, never on the driver."""
    obs = (
        events.groupBy(
            F.col(key_col).alias("k"), F.date_trunc("hour", F.col(ts_col)).alias("bucket")
        )
        .agg(
            (
                F.sum(F.col(value_col).cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("hour_avg")
        )
    )
    grid = (
        obs.groupBy("k")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "k",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy("k")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(obs, ["k", "bucket"], "left")
        .withColumn("filled_avg", F.last("hour_avg", ignorenulls=True).over(w))
        .select(
            F.col("k").alias(key_col),
            "bucket",
            (~F.col("hour_avg").isNull()).alias("observed"),
            "filled_avg",
        )
        .orderBy(key_col, "bucket")
    )


def time_weighted_avg(
    events: DataFrame, key_col: str, ts_col: str, value_col: str, order_tiebreak: str
) -> DataFrame:
    """Per-key time-weighted average: each observation holds its value until
    the next one (last observation carries no weight). Weights are integer
    epoch-second durations and the weighted sum runs in DECIMAL, so the
    result is a single exact division — bit-identical on any engine."""
    # epoch micros floor-divided to seconds: exact integers on any engine
    # (unix_timestamp()/epoch() round-vs-truncate semantics differ)
    sec = F.expr(f"unix_micros({ts_col}) div 1000000")
    w = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak)
    dur = (F.lead(sec).over(w) - sec).cast("long")
    staged = events.select(
        F.col(key_col),
        F.col(value_col).cast("decimal(18,4)").alias("v"),
        dur.alias("dur"),
    ).filter(F.col("dur").isNotNull())
    return (
        staged.groupBy(key_col)
        .agg(
            (
                F.sum(F.col("v") * F.col("dur")).cast("double")
                / F.sum("dur").cast("double")
            ).alias("twa"),
            F.sum("dur").alias("total_seconds"),
        )
        .orderBy(key_col)
    )


def hll_registers(
    df,
    key_col: str,
    ts_col: str = "ts",
    group_col: str = "event_type",
    p: int = 6,
):
    """Engine-portable HLL register table — ORACLE-CHECKABLE, unlike
    Spark's ``hll_sketch_agg`` (opaque Apache DataSketches binaries no
    other engine can rebuild). Same trick as the
    Count-Min family (:func:`countmin_sketch`): derive the sketch's
    randomness from md5 so ANY engine computes the identical sketch, and
    keep it relational so merging is plain SQL.

    Per key: h = md5(key); register index = first-8-hex(h) mod m (m=2^p);
    rho = position of the first 1-bit in the NEXT 15 hex chars (60 bits)
    = 61 - bit_length(v), with the all-zero tail mapping to 61. bit length
    comes from ``conv(hex, 16, 2)`` — base conversion drops leading
    zeros, so string length IS the bit length; DuckDB reproduces it with
    ``length(bin(v))``. Register value = max(rho) per (hour, group, idx):
    pure integers, exactly comparable across engines.

    Only NON-EMPTY registers appear (relational sparse form, <= m rows
    per bucket·group regardless of cardinality); the harmonic-mean
    estimate (which needs the empty count = m - rows) is left to the
    consumer — a float estimate would NOT be bit-portable (sums of
    2^-rho need > 53 mantissa bits), which is exactly why the registry
    query emits registers, not estimates.

    Scale shape: one narrow projection + one partial-agg groupBy (max
    absorbs map-side); the register table is the mergeable hypertable
    pre-aggregate — answer any coarser rollup by re-maxing, never
    rescanning raw data."""
    from pyspark.sql import functions as F

    m = 1 << p
    h = F.md5(F.col(key_col).cast("string"))
    idx = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % m
    v = F.conv(F.substring(h, 9, 15), 16, 10).cast("long")
    bitlen = F.length(F.conv(F.substring(h, 9, 15), 16, 2))
    rho = F.when(v == 0, F.lit(61)).otherwise(F.lit(61) - bitlen)
    # NULL keys don't count toward a distinct estimate (COUNT(DISTINCT x)
    # semantics); without the filter they would hash to a junk NULL
    # register group
    df = df.filter(F.col(key_col).isNotNull())
    return (
        df.select(
            F.date_trunc("hour", F.col(ts_col)).alias("hour"),
            F.col(group_col),
            idx.alias("idx"),
            rho.cast("int").alias("rho"),
        )
        .groupBy("hour", group_col, "idx")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_registers_rollup(hourly, group_col: str = "event_type"):
    """Merge hourly HLL register tables to daily — registers max-combine
    (the HLL union law), a pure groupBy over <= m rows per bucket·group.
    Identical to building the daily sketch from raw data (max is
    associative): the mergeability invariant pinned by tests and by the
    ts4b oracle."""
    from pyspark.sql import functions as F

    return (
        hourly.groupBy(
            F.date_trunc("day", F.col("hour")).alias("day"),
            F.col(group_col),
            F.col("idx"),
        )
        .agg(F.max("max_rho").alias("max_rho"))
    )


def rolling_distinct_users(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window_days: int = 7,
) -> DataFrame:
    """Exact N-day rolling distinct-user counts (one row per calendar day
    present in the data): for each day d, |distinct users active in
    (d - N, d]|.

    Windowed ``COUNT(DISTINCT)`` doesn't exist as a Spark window function
    (and a naive per-day self-join is O(days × data)). The distributed
    shape instead: dedup to (user, day) pairs — tiny vs raw events — then
    EXPLODE each pair into the ≤ N windows it contributes to and count
    distinct users per window end-day. Data expansion is bounded by N on
    the deduped pairs, both shuffles key on high-cardinality columns, and
    at 100 TB the N-day sketch alternative is hll_registers +
    hll_registers_rollup (same module) when approximate counts suffice.

    Window ends with no events on the end day itself are excluded (each
    emitted day is a real activity day — matches the DuckDB oracle's
    per-present-day correlated count)."""
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    pairs = events.select(
        F.col(user_col).alias("u"), day.alias("d")
    ).distinct()
    # pairs is consumed by days_present AND the explode — each reference
    # re-runs the full raw-events dedup shuffle (r14 census: ev10 carried
    # 3 input scans). Materialize once when the input is cluster-shaped
    # (derived a18 decision); locally the job barrier loses to re-scanning
    # a tiny parquet.
    pairs = checkpoint_at_scale(pairs, events)
    days_present = pairs.select("d").distinct()
    exploded = pairs.select(
        "u",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), window_days - 1))
        ).alias("win_end"),
    )
    return (
        exploded.join(
            days_present.withColumnRenamed("d", "win_end"), "win_end", "left_semi"
        )
        .groupBy("win_end")
        .agg(F.countDistinct("u").alias("n_users"))
        .select(F.col("win_end").alias("day"), "n_users")
        .orderBy("day")
    )


def change_history(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an event log: collapse
    each key's consecutive run of equal ``attr_col`` values (a gaps-and-
    islands pass) into one validity interval row — (key, attr, valid_from,
    valid_to, n_events, is_current), valid_to = next island's start, NULL
    while current. The CDC-ingest building block that turns an append-only
    change stream into the dimension table a point-in-time join consumes.

    Two windows over the SAME (key, ts, tiebreak) ordering — the island
    flag (lag compare), its running sum, and the island lead all reuse one
    shuffle-and-sort on the key; n_events is an integer count. The
    deterministic tie-break on equal timestamps is what makes island
    boundaries engine-exact."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    # null-safe island compare: a NULL attr value is a state of its own —
    # with a plain `!=` the three-valued NULL comparison silently merged
    # NULL-attr rows into the preceding run. row_number()==1 (not
    # lag IS NULL) marks the first row, so a leading NULL state still
    # opens an island; both windows share one shuffle+sort.
    flagged = df.select(key_col, attr_col, ts_col, tiebreak_col).withColumn(
        "__new_island",
        F.when(
            (F.row_number().over(w) == 1)
            | ~F.col(attr_col).eqNullSafe(F.lag(attr_col).over(w)),
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "__island", F.sum("__new_island").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    grouped = islands.groupBy(key_col, "__island").agg(
        F.min(attr_col).alias(attr_col),  # constant within an island; min is order-free
        F.min(ts_col).alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_isl = Window.partitionBy(key_col).orderBy("__island")
    return (
        grouped.withColumn("valid_to", F.lead("valid_from").over(w_isl))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(
            key_col, attr_col, "valid_from", "valid_to", "n_events", "is_current"
        )
    )


def ewma(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-key exponentially weighted moving average — the smoothing
    recursion e_t = α·x_t + (1-α)·e_{t-1}, e_0 = x_0, in (ts, tiebreak)
    order. Inherently sequential per key (like greedy packing), so keys
    process independently via ``applyInPandas``: one shuffle on the key,
    state = one scalar per key, pandas' C-implemented ``ewm`` inside the
    Arrow batch (``adjust=False`` IS this recursion). With a dyadic α
    (0.5 default) every operation is exact IEEE halving+add, so the DuckDB
    recursive-CTE oracle reproduces the doubles bit-for-bit.

    The closed-form window alternative (Σ x_i·(1-α)^(t-i)) overflows
    (1-α)^-i for long histories; the recursion is the numerically-stable
    scale form.

    Sharding (not per-key groups): ``groupBy(key).applyInPandas`` makes one
    Arrow batch + one Python call PER KEY — at ~10⁵ keys the fixed per-group
    overhead dominated the compute ~10:1 (measured 7.6 s → ~1 s at sf0.1).
    Instead keys hash into ``defaultParallelism×2`` deterministic shards
    (the pack_greedy pattern), one pandas call per shard, and pandas'
    cython ``groupby(...).ewm()`` runs the per-key recursions inside the
    batch — identical values, same one-shuffle plan, O(cores) Python
    invocations instead of O(keys)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField(key_col, LongType()),
            StructField(ts_col, TimestampType()),
            StructField(tiebreak_col, LongType()),
            StructField(value_col, DoubleType()),
            StructField("ewma", DoubleType()),
        ]
    )

    def _ewma(pdf):
        pdf = pdf.sort_values([key_col, ts_col, tiebreak_col]).reset_index(drop=True)
        pdf["ewma"] = (
            pdf.groupby(key_col, sort=False)[value_col]
            .ewm(alpha=alpha, adjust=False)
            .mean()
            .reset_index(level=0, drop=True)
        )
        return pdf[[key_col, ts_col, tiebreak_col, value_col, "ewma"]]

    n_shards = df.sparkSession.sparkContext.defaultParallelism * 2
    staged = df.select(
        F.col(key_col).cast("long"),
        F.col(ts_col),
        F.col(tiebreak_col).cast("long"),
        F.col(value_col).cast("double"),
        F.pmod(F.col(key_col).cast("long"), F.lit(n_shards)).alias("__shard"),
    )
    return staged.groupBy("__shard").applyInPandas(_ewma, schema)


def countmin_sketch(
    df,
    key_col: str,
    bucket_expr,
    d: int = 4,
    w: int = 256,
):
    """Count-Min sketch counters per time bucket — the MERGEABLE
    frequency-estimate companion to the HLL distinct sketches above
    (heavy hitters / "how often did key x appear" over any bucket range
    without rescanning raw data). Each bucket's sketch is d·w integer
    counters: counter(i, h_i(x)) += 1 with h_i(x) = the first 8 md5 hex
    chars of 'i|x' mod w — md5-derived so the SAME sketch is computable
    on any engine (the oracle rebuilds it in SQL), and deterministic so
    estimates are test-stable. Stored relationally as (bucket, row_i,
    col, cnt) — merging is a plain SUM groupBy, and each bucket carries
    at most d·w rows regardless of cardinality.

    Shape (round-13 optimization): one partial-agg groupBy collapses the
    raw rows to DISTINCT (bucket, key) counts FIRST, then the d-lane
    explode and the md5 lane hash run over that bounded frame — the hash
    depends only on (lane, key), so hashing once per distinct key per
    bucket and SUMming the pre-counts yields bit-identical counters to
    hashing every raw row (the ts7 oracle rebuilds the naive form in SQL
    and still matches). This moves the md5 work from O(d·rows) to
    O(d·distinct keys per bucket) — on Zipf keys orders of magnitude
    less — and the first groupBy absorbs the Zipf head map-side exactly
    like a raw count (measured ts7 1.89 → 1.41 s min-of-5 alternating
    A/B at sf0.1; the second groupBy input is ≤ d·w rows per bucket
    after partial aggregation)."""
    from pyspark.sql import functions as F

    per_key = (
        df.select(
            bucket_expr.alias("bucket"),
            F.col(key_col).cast("string").alias("__k"),
        )
        .groupBy("bucket", "__k")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    lanes = per_key.select(
        "bucket",
        "__k",
        "__c",
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("row_i"),
    )
    col = (
        F.conv(
            F.substring(F.md5(F.concat_ws("|", F.col("row_i"), F.col("__k"))), 1, 8),
            16,
            10,
        ).cast("long")
        % w
    )
    return lanes.groupBy("bucket", "row_i", col.alias("col")).agg(
        F.sum("__c").alias("cnt")
    )


def countmin_merge(sketches):
    """Union Count-Min sketches across buckets: counters add. A pure SUM
    over at most d·w·n_buckets rows — never touches raw data."""
    from pyspark.sql import functions as F

    return sketches.groupBy("row_i", "col").agg(F.sum("cnt").alias("cnt"))


def countmin_estimate(merged, keys, key_col: str, d: int = 4, w: int = 256):
    """Point-frequency estimates from a merged Count-Min sketch:
    est(x) = min over the d lanes of counter(i, h_i(x)). Always >= the
    true count (collisions only ever inflate). ``keys`` is the (small)
    frame of keys to probe; the probe is an equi-join of keys×d lanes
    against the d·w-row sketch — broadcast-sized on both sides."""
    from pyspark.sql import functions as F

    probes = keys.select(
        F.col(key_col),
        F.col(key_col).cast("string").alias("__k"),
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("row_i"),
    ).withColumn(
        "col",
        F.conv(
            F.substring(F.md5(F.concat_ws("|", F.col("row_i"), F.col("__k"))), 1, 8),
            16,
            10,
        ).cast("long")
        % w,
    )
    return (
        probes.join(merged, on=["row_i", "col"], how="left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_n"))
    )


def event_transitions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """First-order Markov transition counts over per-user event streams:
    for each user's events in (ts, tiebreak) order, count consecutive
    (from_type -> to_type) pairs and report each pair's share of all
    transitions in exact ppm — the behavioral-analytics matrix behind
    journey analysis and next-event baselines.

    The order within a user is TOTAL (ts ties broken by ``tiebreak_col``,
    the pk), so the transition multiset is deterministic and a DuckDB
    lead() replays it exactly; the ppm share is integer floor division —
    no float anywhere. Scale shape: one window partitioned by user (hash
    shuffle on user, per-user sort), then a partial-aggregated groupBy on
    the (from, to) pair — |types|^2 rows max; the 1-row total rides a
    broadcast crossJoin."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        df.withColumn("__next", F.lead(type_col).over(w))
        .filter(F.col("__next").isNotNull())
        .select(
            F.col(type_col).alias("from_type"), F.col("__next").alias("to_type")
        )
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "from_type",
            "to_type",
            "n",
            # integer floor division (SQL `div`): exact, matches DuckDB //
            # (n * 1e6 stays far inside int64 for any plausible event count)
            F.expr("n * 1000000L div __total").alias("p_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


def rolling_zscore(
    df: DataFrame,
    order_col: str,
    value_col: str,
    window_rows: int = 7,
    threshold_x100: int = 200,
) -> DataFrame:
    """Rolling z-score anomaly detection over a PRE-AGGREGATED series
    (daily counts, hourly totals): each point scored against the
    trailing ``window_rows``-point mean/std (current point included),
    emitted only once the window is full. ``anomaly = |z| > threshold``
    with the threshold passed as an integer (x100) so the contract
    carries no float parameter.

    Engine-exact: the input values are integers, the window emits EXACT
    integer sums (Σx, Σx², n — cast to BIGINT; DuckDB widens to HUGEINT
    otherwise), and mean/var/z are ONE fixed chain of correctly-rounded
    double ops (var via the computational formula (Σx² − (Σx)²/n)/(n−1),
    z = (x − mean)/sqrt(var)) — bit-identical on any IEEE engine, so the
    anomaly flag's float comparison is deterministic too.

    Scale note: the window is ordered by ``order_col`` with NO partition
    — correct here by the same bounded-input exemption as dq4: the input
    is the per-period AGGREGATE (rows = periods of history, metadata-
    sized), never the raw event stream. For per-key monitoring, add the
    key to ``partitionBy`` upstream.
    """
    w = (
        Window.orderBy(order_col)
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    x = F.col(value_col).cast("long")
    stats = df.select(
        F.col(order_col),
        x.alias("x"),
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.sum(x).over(w).cast("long").alias("s1"),
        F.sum(x * x).over(w).cast("long").alias("s2"),
    ).filter(F.col("n_win") == window_rows)
    n = F.col("n_win").cast("double")
    mean = F.col("s1").cast("double") / n
    var = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1").cast("double") / n
    ) / (n - F.lit(1.0))
    z = F.when(var > 0, (F.col("x").cast("double") - mean) / F.sqrt(var))
    return stats.select(
        order_col,
        F.col("x").alias(value_col),
        mean.alias("win_mean"),
        z.alias("zscore"),
        F.when(
            z.isNotNull() & (F.abs(z) * 100 > F.lit(float(threshold_x100))), 1
        )
        .otherwise(0)
        .alias("anomaly"),
    )


# ---------------------------------------------------------------------------
# mergeable histogram sketch → distributed quantiles
# ---------------------------------------------------------------------------


def histogram_sketch(
    events: DataFrame,
    ts_col: str,
    group_col: str,
    value_col: str,
    bin_width: float = 10.0,
    bucket: str = "day",
) -> DataFrame:
    """Mergeable fixed-width histogram sketch: per (bucket, group, bin)
    counts, ``bin = floor(value / bin_width)``. This is the quantile
    member of the sketch-rollup family (HLL = distinct, Count-Min =
    frequency, histogram = quantiles; cf. the reference's aggregation
    rollups, /root/reference/src/training/utils/data.py preprocessing
    summaries): counts are ADDITIVE, so day sketches merge to weeks or
    months by summing — one pass over the facts, O(groups × bins) state,
    never a global sort the way exact percentile_disc needs.

    Engine-exact: the only float op is one correctly-rounded IEEE
    division ``value / bin_width`` whose floor is then exact, so any
    IEEE engine bins identically (same argument as rolling_zscore's
    fixed double chain); everything downstream is integer. NULL values
    carry no bin and are skipped (the COUNT DISTINCT convention ts4b's
    HLL registers follow) — stated in the oracle as WHERE value IS NOT
    NULL so the contract is explicit, not an accident of the corpus.
    """
    if not bin_width > 0:
        raise ValueError("bin_width must be > 0")
    return (
        events.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(group_col),
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket"),
            F.floor(F.col(value_col) / F.lit(float(bin_width)))
            .cast("long")
            .alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_merge(
    hist: DataFrame, group_col: str, to_bucket: str = "week"
) -> DataFrame:
    """Merge finer-bucket histogram sketches into a coarser calendar
    bucket (counts add; the mergeability that makes the sketch a
    distributed-quantile design rather than a sampled one)."""
    return (
        hist.groupBy(
            F.col(group_col),
            F.date_trunc(to_bucket, F.col("bucket")).cast("date").alias("bucket"),
            F.col("bin"),
        )
        .agg(F.sum("n").cast("long").alias("n"))
    )


def histogram_quantiles(
    hist: DataFrame,
    group_cols: list,
    qs_x100: tuple = (50, 90, 99),
    bin_width_x100: int = 1000,
) -> DataFrame:
    """Quantile extraction from a histogram sketch: per group, the q-th
    quantile is reported as the UPPER EDGE of the first bin whose
    cumulative count reaches q% of the total — a deterministic upper
    bound on the true quantile with error <= bin_width. The decision is
    integer cross-multiplication (``cum * 100 >= q * total``); edges are
    integer centi-units ((bin + 1) * bin_width_x100) — no float ever
    decides or is emitted.

    The cumulative window partitions by the group and orders by bin over
    <= n_bins rows per partition (bounded by construction — value range /
    bin_width — never by data volume), so no global sort appears at any
    scale."""
    w_cum = Window.partitionBy(*group_cols).orderBy("bin")
    w_all = Window.partitionBy(*group_cols)
    c = hist.select(
        *group_cols,
        "bin",
        F.sum("n").over(w_cum).cast("long").alias("cum"),
        F.sum("n").over(w_all).cast("long").alias("total"),
    )
    aggs = [
        F.min(
            F.when(
                F.col("cum") * 100 >= F.lit(int(q)) * F.col("total"),
                (F.col("bin") + 1) * F.lit(int(bin_width_x100)),
            )
        )
        .cast("long")
        .alias(f"p{int(q)}_edge_x100")
        for q in qs_x100
    ]
    return c.groupBy(*group_cols).agg(
        *aggs,
        F.max("total").cast("long").alias("n_events"),
        # DISTINCT bins, not input rows: when group_cols are coarser than
        # the sketch's bucket (e.g. quantiles over a per-day store rolled
        # up by group only) the same bin appears once per bucket; the
        # RANGE window frame already merges those ties for cum, and
        # n_bins must agree with that set, not the row count
        F.count_distinct(F.col("bin")).cast("long").alias("n_bins"),
    )
