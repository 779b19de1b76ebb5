"""As-of (point-in-time) join semantics tests — the engine's replacement for
the reference's Feast get_historical_features (split_data.py:75-94)."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_ml_spark.operators import pit


def _ts(spark, df, cols):
    for c in cols:
        df = df.withColumn(c, F.to_timestamp(c))
    return df


def test_as_of_basic_latest_wins(spark):
    ent = _ts(
        spark,
        spark.createDataFrame([(1, "2024-01-10 00:00:00")], ["id", "ets"]),
        ["ets"],
    )
    feat = _ts(
        spark,
        spark.createDataFrame(
            [
                (1, "2024-01-08 00:00:00", 8.0),
                (1, "2024-01-09 00:00:00", 9.0),
                (1, "2024-01-11 00:00:00", 11.0),  # future: excluded
            ],
            ["id", "fts", "v"],
        ),
        ["fts"],
    )
    out = pit.as_of_join(ent, feat, ["id"], "ets", "fts").collect()
    assert len(out) == 1 and out[0]["v"] == 9.0


def test_as_of_ttl_excludes_stale(spark):
    ent = _ts(
        spark,
        spark.createDataFrame([(1, "2024-02-01 00:00:00")], ["id", "ets"]),
        ["ets"],
    )
    feat = _ts(
        spark,
        spark.createDataFrame([(1, "2024-01-01 00:00:00", 1.0)], ["id", "fts", "v"]),
        ["fts"],
    )
    # 30-day TTL: 2024-01-01 < 2024-02-01 - 30d? boundary: exactly 31 days → stale
    out = pit.as_of_join(ent, feat, ["id"], "ets", "fts", ttl_seconds=30 * 86400).collect()
    assert len(out) == 1 and out[0]["v"] is None  # left join keeps entity


def test_as_of_no_match_keeps_entity(spark):
    ent = _ts(
        spark,
        spark.createDataFrame([(1, "2024-01-10 00:00:00"), (2, "2024-01-10 00:00:00")], ["id", "ets"]),
        ["ets"],
    )
    feat = _ts(
        spark,
        spark.createDataFrame([(1, "2024-01-09 00:00:00", 9.0)], ["id", "fts", "v"]),
        ["fts"],
    )
    out = {r["id"]: r["v"] for r in pit.as_of_join(ent, feat, ["id"], "ets", "fts").collect()}
    assert out == {1: 9.0, 2: None}


def test_as_of_exactly_one_row_per_entity(spark):
    ent = _ts(
        spark,
        spark.createDataFrame(
            [(i, "2024-01-10 00:00:00") for i in range(50)], ["id", "ets"]
        ),
        ["ets"],
    )
    feat = _ts(
        spark,
        spark.createDataFrame(
            [(i % 10, f"2024-01-{d:02d} 00:00:00", float(d)) for i in range(100) for d in [1 + i % 9]],
            ["id", "fts", "v"],
        ),
        ["fts"],
    )
    out = pit.as_of_join(ent, feat, ["id"], "ets", "fts")
    assert out.count() == 50
    assert out.groupBy("id").count().filter("count > 1").count() == 0


def test_ranged_asof_matches_python_reference(spark):
    """The ranged-join path must agree row for row with a brute-force
    Python as-of on data with deep feature history, TTL expiry, and ties
    (newest fts wins, then the larger feature value)."""
    import datetime as dt
    import random

    from end_to_end_ml_spark.operators.pit import as_of_join

    rng = random.Random(11)
    entities = [
        (k, f"2024-01-{rng.randrange(1, 28):02d} 00:00:00")
        for k in range(30)
        for _ in range(3)
    ]
    feats = [
        (k, f"2024-01-{rng.randrange(1, 28):02d} 12:00:00", float(rng.randrange(100)))
        for k in range(30)
        for _ in range(6)
    ]
    e = _ts(spark, spark.createDataFrame(entities, ["id", "ets"]).distinct(), ["ets"])
    f = _ts(spark, spark.createDataFrame(feats, ["id", "fts", "val"]), ["fts"])

    def parse(s):
        return dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")

    for ttl in (None, 7 * 86400):
        rows = as_of_join(e, f, ["id"], "ets", "fts", ttl_seconds=ttl).collect()
        got = {(r["id"], r["ets"]): (r["fts"], r["val"]) for r in rows}
        want = {}
        for k, ets in set(entities):
            t = parse(ets)
            cands = [
                (parse(fts), v)
                for kk, fts, v in feats
                if kk == k
                and parse(fts) <= t
                and (ttl is None or parse(fts) >= t - dt.timedelta(seconds=ttl))
            ]
            want[(k, t)] = max(cands) if cands else (None, None)
        assert len(rows) == len(want)
        assert got == want


def test_as_of_duplicate_entity_rows_each_scored(spark):
    """ADVICE r1: byte-identical duplicate entity rows must each appear in
    the output (Feast scores every entity row), not collapse to one."""
    ents = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00")] * 3, ["k", "ets"]
    ).select("k", F.col("ets").cast("timestamp"))
    feats = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 10.0)], ["k", "fts", "v"]
    ).select("k", F.col("fts").cast("timestamp"), "v")
    out = pit.as_of_join(ents, feats, ["k"], "ets", "fts").collect()
    assert len(out) == 3
    assert all(r["v"] == 10.0 for r in out)
