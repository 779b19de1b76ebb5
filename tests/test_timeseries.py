"""Timeseries operator semantics on hand-computed examples."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_ml_spark.operators import timeseries as TS


def _events(spark, rows):
    df = spark.createDataFrame(rows, ["user_id", "ts", "value", "event_id"])
    return df.withColumn("ts", F.to_timestamp("ts"))


def test_gap_fill_forward_fills_missing_hours(spark):
    ev = _events(
        spark,
        [
            (1, "2024-01-01 00:10:00", 10.0, 1),
            (1, "2024-01-01 00:50:00", 20.0, 2),  # hour 0 avg = 15
            (1, "2024-01-01 03:30:00", 40.0, 3),  # hours 1,2 missing
        ],
    )
    out = TS.gap_fill_hourly(ev, "user_id", "ts", "value").collect()
    assert len(out) == 4  # 00:00 .. 03:00
    assert [r["observed"] for r in out] == [True, False, False, True]
    assert [r["filled_avg"] for r in out] == [15.0, 15.0, 15.0, 40.0]


def test_time_weighted_avg_exact(spark):
    # value 10 for 3600s, then 20 for 1800s; last obs carries no weight
    ev = _events(
        spark,
        [
            (1, "2024-01-01 00:00:00", 10.0, 1),
            (1, "2024-01-01 01:00:00", 20.0, 2),
            (1, "2024-01-01 01:30:00", 99.0, 3),
        ],
    )
    r = TS.time_weighted_avg(ev, "user_id", "ts", "value", "event_id").collect()[0]
    assert r["total_seconds"] == 5400
    assert r["twa"] == (10.0 * 3600 + 20.0 * 1800) / 5400


def test_hourly_downsample_counts(spark):
    ev = _events(
        spark,
        [
            (1, "2024-01-01 00:10:00", 1.5, 1),
            (1, "2024-01-01 00:20:00", 2.5, 2),
            (2, "2024-01-01 05:00:00", 7.0, 3),
        ],
    )
    out = {(r["user_id"], str(r["bucket"])): (r["n"], r["sum_value"]) for r in
           TS.hourly_downsample(ev, "user_id", "ts", "value").collect()}
    assert out[(1, "2024-01-01 00:00:00")] == (2, 4.0)
    assert out[(2, "2024-01-01 05:00:00")] == (1, 7.0)


def test_rolling_distinct_users_exact_window(spark):
    """Hand-checked 7-day rolling distinct: overlapping users collapse,
    window excludes day-7-old activity, only active days emit rows."""
    from datetime import datetime

    from end_to_end_ml_spark.operators.timeseries import rolling_distinct_users

    rows = [
        ("a", datetime(2024, 1, 1, 5)),
        ("b", datetime(2024, 1, 1, 6)),
        ("a", datetime(2024, 1, 3, 7)),   # same user again → still distinct-1
        ("c", datetime(2024, 1, 8, 9)),   # day 8: a,b (day1) fall out of (1..8]? no: 8-6=2 → only day>=2 → a(day3), c
        ("d", datetime(2024, 1, 20, 1)),  # isolated day
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {str(r["day"]): r["n_users"] for r in rolling_distinct_users(df).collect()}
    assert out == {
        "2024-01-01": 2,  # a, b
        "2024-01-03": 2,  # a, b (day 1 within 7-day window), a deduped
        "2024-01-08": 2,  # a (day 3), c — day-1 activity aged out
        "2024-01-20": 1,  # d alone
    }


def test_countmin_mergeable_and_never_underestimates(spark):
    """CM sketch invariants: (1) merge(sketch(A), sketch(B)) has exactly
    the counters of sketch over A ∪ B (pure addition — the hypertable
    merge contract); (2) point estimates never underestimate true
    counts."""
    from end_to_end_ml_spark.operators import timeseries as TS
    from end_to_end_ml_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    a = ev.filter(F.col("user_id") % 2 == 0)
    b = ev.filter(F.col("user_id") % 2 == 1)
    bucket = F.date_trunc("day", F.col("ts"))
    merged_parts = TS.countmin_merge(
        TS.countmin_sketch(a, "user_id", bucket).unionByName(
            TS.countmin_sketch(b, "user_id", bucket)
        )
    )
    merged_whole = TS.countmin_merge(TS.countmin_sketch(ev, "user_id", bucket))
    as_map = lambda df: {  # noqa: E731
        (r["row_i"], r["col"]): r["cnt"] for r in df.collect()
    }
    assert as_map(merged_parts) == as_map(merged_whole)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    est = TS.countmin_estimate(merged_whole, exact.select("user_id"), "user_id")
    joined = {r["user_id"]: r for r in exact.join(est, "user_id").collect()}
    assert joined and all(r["est_n"] >= r["n"] for r in joined.values())


def test_countmin_preagg_equals_naive_per_row_hash(spark):
    """The round-13 pre-aggregated sketch build (count distinct
    (bucket, key) first, hash once per key per lane, SUM) must produce
    bit-identical counters to the naive form that hashes every raw row —
    including NULL keys, which group together and hash as the empty
    concat_ws fragment either way."""
    from end_to_end_ml_spark.operators import timeseries as TS

    rows = [
        (1, "2024-01-01"), (1, "2024-01-01"), (2, "2024-01-01"),
        (1, "2024-01-02"), (None, "2024-01-01"), (None, "2024-01-01"),
        (3, "2024-01-02"), (3, "2024-01-02"), (3, "2024-01-02"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "day"])
    bucket = F.col("day")
    got = TS.countmin_sketch(df, "user_id", bucket, d=3, w=16)
    # naive replica: one lane row per RAW input row, count(*) per counter
    lanes = df.select(
        bucket.alias("bucket"),
        F.col("user_id").cast("string").alias("__k"),
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("row_i"),
    )
    col = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("row_i"), F.col("__k"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 16
    )
    naive = lanes.groupBy("bucket", "row_i", col.alias("col")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    key = lambda df: {  # noqa: E731
        (r["bucket"], r["row_i"], r["col"]): r["cnt"] for r in df.collect()
    }
    assert key(got) == key(naive)


def test_hll_registers_merge_law_and_estimate(spark):
    """md5-derived HLL registers (the oracle-exact ts4 twin): (a) daily
    rollup of hourly registers == registers built directly at day grain
    (max is associative — the HLL union law); (b) registers never exceed
    m=2^p rows per bucket*group; (c) the standard HLL harmonic-mean
    estimate over the registers (linear counting for the small range)
    lands within the HLL error band of the exact distinct count."""
    import datetime as dt
    import math

    rows = []
    # 3 event types, 400 distinct users spread over 2 days x 6 hours
    for u in range(400):
        for et in ("click", "view"):
            rows.append(
                (
                    u,
                    dt.datetime(2024, 1, 1 + (u % 2), 8 + (u % 6)),
                    et,
                )
            )
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])

    hourly = TS.hll_registers(ev, "user_id", "ts", "event_type", p=6)
    daily = TS.hll_registers_rollup(hourly)

    # (a) merge law: build at day grain directly via a day-truncated ts
    direct = TS.hll_registers(
        ev.withColumn("ts", F.date_trunc("day", "ts")), "user_id", "ts",
        "event_type", p=6,
    ).withColumnRenamed("hour", "day")
    a = {tuple(r) for r in daily.collect()}
    b = {tuple(r) for r in direct.collect()}
    assert a == b

    # (b) bounded register table
    per = daily.groupBy("day", "event_type").count().collect()
    assert all(r["count"] <= 64 for r in per)

    # (c) estimate accuracy: each (day, event_type) has 200 exact users
    for r in per:
        regs = (
            daily.filter(
                (F.col("day") == r["day"])
                & (F.col("event_type") == r["event_type"])
            )
            .select("idx", "max_rho")
            .collect()
        )
        m = 64
        seen = {x["idx"]: x["max_rho"] for x in regs}
        est = (0.7213 / (1 + 1.079 / m)) * m * m / sum(
            2.0 ** -seen.get(j, 0) for j in range(m)
        )
        if est <= 2.5 * m and len(seen) < m:
            est = m * math.log(m / (m - len(seen)))
        exact = 200
        assert abs(est - exact) / exact < 0.35  # ~2.6x the 13% stderr at m=64


def test_rolling_zscore_flags_planted_spike(spark):
    """Flat series with one spike: the spike day z-scores far above 2;
    flat-window days emit NULL z (var=0) and no flag; warm-up rows
    (window not yet full) are suppressed."""
    import datetime as dt
    from end_to_end_ml_spark.operators.timeseries import rolling_zscore

    base = dt.date(2024, 1, 1)
    vals = [100] * 10 + [500] + [100] * 5
    df = spark.createDataFrame(
        [(base + dt.timedelta(days=i), v) for i, v in enumerate(vals)],
        ["day", "n"],
    )
    out = {r["day"].isoformat(): r for r in rolling_zscore(df, "day", "n", 7).collect()}
    assert len(out) == len(vals) - 6  # first 6 days suppressed
    spike = out["2024-01-11"]
    assert spike["anomaly"] == 1 and spike["zscore"] > 2
    flat = out["2024-01-07"]
    assert flat["zscore"] is None and flat["anomaly"] == 0
    # day after the spike: spike inflates the window std -> current normal
    after = out["2024-01-12"]
    assert after["anomaly"] == 0


def test_histogram_sketch_merge_equals_direct_weekly(spark):
    """Mergeability: day sketches summed to weeks == histogram built at
    week granularity directly (counts are additive), and quantile edges
    bound the exact percentile from above by <= bin_width."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1 + (i % 10), 8, 0, 0), float(v), i)
        for i, v in enumerate([3, 7, 12, 18, 25, 33, 41, 55, 72, 99] * 5)
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "value", "event_id"])
    daily = TS.histogram_sketch(ev, "ts", "user_id", "value", bin_width=10.0)
    merged = TS.histogram_merge(daily, "user_id", to_bucket="week")
    direct = (
        TS.histogram_sketch(ev, "ts", "user_id", "value", bin_width=10.0, bucket="week")
        .select(
            "user_id", F.col("bucket").cast("date").alias("bucket"), "bin", "n"
        )
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )
    q = TS.histogram_quantiles(merged, ["user_id", "bucket"]).collect()
    # exact per-week p50 from the raw rows (ISO Monday weeks)
    by_week: dict = {}
    for _, ts, v, _i in rows:
        wk = (ts - dt.timedelta(days=ts.weekday())).date()
        by_week.setdefault(wk, []).append(v)
    for r in q:
        vals = sorted(by_week[r["bucket"]])
        exact_p50 = vals[(len(vals) * 50 + 99) // 100 - 1]
        assert 0 <= r["p50_edge_x100"] / 100.0 - exact_p50 <= 10.0
        assert r["n_bins"] <= 10 and r["n_events"] == len(vals)


def test_histogram_quantiles_hand_checked(spark):
    """4 values in 3 bins: p50 edge = upper edge of the bin where the
    cumulative count first reaches half, p99 = last bin's upper edge."""
    import datetime as dt

    ev = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1), 5.0, 1),
            (1, dt.datetime(2024, 1, 1), 6.0, 2),
            (1, dt.datetime(2024, 1, 1), 15.0, 3),
            (1, dt.datetime(2024, 1, 1), 25.0, 4),
        ],
        ["user_id", "ts", "value", "event_id"],
    )
    h = TS.histogram_sketch(ev, "ts", "user_id", "value", bin_width=10.0)
    out = TS.histogram_quantiles(h, ["user_id"]).collect()
    assert len(out) == 1
    r = out[0]
    # bins: 0 -> 2 rows (cum 2 >= 50% of 4), 1 -> 1, 2 -> 1
    assert r["p50_edge_x100"] == 1000  # upper edge of bin 0
    assert r["p90_edge_x100"] == 3000  # cum reaches 90% only at bin 2
    assert r["p99_edge_x100"] == 3000
    assert r["n_events"] == 4 and r["n_bins"] == 3
