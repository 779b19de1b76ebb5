"""Scale-machinery tests: salting preserves semantics; partitioned writes
prune; scans are memoized and invalidated on write; persists are guarded."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_ml_spark.operators import skew


def test_salted_join_matches_plain_join(spark):
    fact = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", float(i)) for i in range(1000)],
        ["id", "key", "v"],
    )
    dim = spark.createDataFrame([("hot", 1), ("cold", 2)], ["key", "attr"])
    salted = skew.salted_join(fact, dim, "key", salt_buckets=4)
    plain = fact.join(dim, "key")
    assert salted.count() == plain.count() == 1000
    s = salted.groupBy("key", "attr").agg(F.sum("v").alias("sv")).collect()
    p = plain.groupBy("key", "attr").agg(F.sum("v").alias("sv")).collect()
    assert sorted(map(tuple, s)) == sorted(map(tuple, p))


def test_salted_join_left_rows_not_duplicated(spark):
    fact = spark.createDataFrame([(i, "k") for i in range(100)], ["id", "key"])
    dim = spark.createDataFrame([("k", 9)], ["key", "attr"])
    out = skew.salted_join(fact, dim, "key", salt_buckets=8)
    assert out.select("id").distinct().count() == 100
    assert out.count() == 100


def test_salted_collect_list_sorted_exact(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(50)] + [("b", i) for i in range(5)], ["k", "v"]
    )
    out = {r["k"]: r["vs"] for r in skew.salted_collect_list(df, ["k"], "v", 4).collect()}
    assert out["a"] == list(range(50))
    assert out["b"] == list(range(5))


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    from end_to_end_ml_spark.sources.io import write_parquet

    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("bucket"),
        (F.col("id") * 2).alias("v"),
    )
    path = str(tmp_path / "parted")
    write_parquet(df, path, partition_by=["bucket"])
    back = spark.read.parquet(path).filter(F.col("bucket") == "2")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "(bucket = 2)" in plan or "bucket#" in plan.split("PartitionFilters")[1][:200]
    assert back.count() == 250


def test_salted_join_rejects_outer_joins(spark):
    import pytest as _pytest

    fact = spark.createDataFrame([(1, "a")], ["key", "x"])
    dim = spark.createDataFrame([(1, "d")], ["key", "y"])
    for how in ("right", "full", "outer", "left_anti"):
        with _pytest.raises(ValueError):
            skew.salted_join(fact, dim, "key", how=how)


def test_online_store_export_roundtrip(spark, tmp_path):
    """S2-variant (Feast-materialize stand-in): the latest row per key
    (``latest_per_key``, the s9_online_export core) survives a parquet
    write/read round trip unchanged."""
    from end_to_end_ml_spark.sources.io import latest_per_key, write_parquet

    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-03 00:00:00", 3.0),   # latest for key 1
        (2, "2024-01-02 00:00:00", 2.0),
        (1, "2024-01-02 00:00:00", 9.9),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"]).selectExpr(
        "k", "cast(ts as timestamp) ts", "v"
    )
    out = latest_per_key(df, ["k"], "ts", feature_cols=["v"])
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: 3.0, 2: 2.0}
    path = str(tmp_path / "online")
    write_parquet(out, path)
    back = spark.read.parquet(path)
    assert {r["k"]: r["v"] for r in back.collect()} == got


def test_register_views_full_sql_surface(spark):
    """register_views exposes every table to spark.sql with the same
    normalization as load_table — a SQL join must equal its DataFrame
    twin, including the events.ts timestamp handling."""
    from pyspark.sql import functions as F

    from end_to_end_ml_spark.sources.io import load_table, register_views

    sf = "/root/testdata/sf0.001"
    register_views(spark, sf)
    sql_out = spark.sql(
        "SELECT e.event_type, count(*) AS n, min(e.ts) AS first_ts "
        "FROM events e GROUP BY e.event_type ORDER BY e.event_type"
    ).collect()
    ev = load_table(spark, sf, "events")
    df_out = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("first_ts"))
        .orderBy("event_type")
        .collect()
    )
    assert sql_out == df_out
    assert spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"] > 0


def test_load_table_memoizes_per_session_and_dir(spark):
    """Repeated load_table calls reuse one analyzed scan (driver-side
    file-listing/footer RPCs are 20-40% of a sub-second query's wall time);
    different dirs or tables never share cache entries."""
    from end_to_end_ml_spark.sources.io import load_table

    a = load_table(spark, "/root/testdata/sf0.001", "orders")
    b = load_table(spark, "/root/testdata/sf0.001", "orders")
    assert a is b
    c = load_table(spark, "/root/testdata/sf0.01", "orders")
    assert c is not a
    d = load_table(spark, "/root/testdata/sf0.001", "customer")
    assert d is not a
    # the cached frame is still a plain lazy scan — fresh queries compose
    assert a.filter("o_orderkey = 1").count() <= 1


def test_guarded_persist_skips_already_cached_plan(spark):
    """materialize.persist must not re-persist a plan the CacheManager
    already holds — with memoized scans a repeated operator call rebuilds
    an IDENTICAL logical plan, and a bare persist() there logs `Asked to
    cache already cached data` and risks sibling-cache eviction. The
    short-circuit reports owned=False, so the caller leaves the sibling's
    cache alone."""
    from pyspark.storagelevel import StorageLevel

    from end_to_end_ml_spark.materialize import persist

    a = spark.range(1234).withColumn("v", F.col("id") % 5)
    try:
        cached, owned = persist(a)
        assert owned is True
        cached.count()  # materialize the cache
        # a SEPARATE DataFrame object with the identical logical plan:
        # storageLevel consults the CacheManager by plan, not by object
        b = spark.range(1234).withColumn("v", F.col("id") % 5)
        assert b.storageLevel != StorageLevel.NONE
        same, owned = persist(b)
        assert same is b  # guard short-circuits: no second persist
        assert owned is False
    finally:
        a.unpersist()
    fresh = spark.range(4321).withColumn("v", F.col("id") % 5)
    try:
        assert fresh.storageLevel == StorageLevel.NONE
        got, owned = persist(fresh)
        assert got is not fresh or fresh.storageLevel != StorageLevel.NONE
        assert owned is True
    finally:
        fresh.unpersist()


def test_dedup_operators_do_not_stack_cache_entries(spark):
    """Calling a fingerprint-persisting operator twice over the memoized
    scan leaves ONE cache entry per persisted intermediate, not two — the
    bench-tail `CacheManager` warning regression guard."""
    from end_to_end_ml_spark.operators import dedup
    from end_to_end_ml_spark.sources.io import load_table

    spark.catalog.clearCache()
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(200)
    jcm = spark._jsparkSession.sharedState().cacheManager()
    try:
        dedup.minhash_dedup_pairs(docs, "doc_id", "text").count()
        first = jcm.numCachedEntries() if hasattr(jcm, "numCachedEntries") else None
        dedup.minhash_dedup_pairs(docs, "doc_id", "text").count()
        if first is not None:
            assert jcm.numCachedEntries() == first
    finally:
        spark.catalog.clearCache()


def test_scan_cache_invalidated_on_write(spark, tmp_path):
    """A sink writing into a memoized table directory must drop the stale
    scan entries: the cached relation pins its file listing, so without
    invalidation later reads return the OLD files."""
    from end_to_end_ml_spark.sources import io as sio

    d = str(tmp_path)
    sio.write_parquet(spark.range(10).withColumn("v", F.lit(1)), f"{d}/tbl.parquet")
    first = sio.load_table(spark, d, "tbl")
    assert first.count() == 10
    assert sio.load_table(spark, d, "tbl") is first  # memoized
    # rewrite through the engine's own sink → cache entry must drop
    sio.write_parquet(spark.range(25).withColumn("v", F.lit(2)), f"{d}/tbl.parquet")
    second = sio.load_table(spark, d, "tbl")
    assert second is not first
    assert second.count() == 25
    assert sio.invalidate_scan_cache(f"{d}/tbl.parquet") == 1  # drops what we re-cached


def test_schema_evolution_merge_read(spark, tmp_path):
    """Ingest-side schema evolution: a dataset written in two epochs (the
    second adds a column) must read back under one merged schema with
    NULLs for the pre-evolution rows — the mergeSchema contract a
    long-lived 100 TB dataset depends on when producers add fields."""
    p = str(tmp_path / "evolving")
    spark.range(10).selectExpr("id", "id * 2 AS v").write.parquet(p + "/epoch=1")
    spark.range(10, 20).selectExpr(
        "id", "id * 2 AS v", "'b' AS channel"
    ).write.parquet(p + "/epoch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "v", "channel", "epoch"}
    assert merged.count() == 20
    old_rows = merged.filter(F.col("epoch") == 1)
    assert old_rows.filter(F.col("channel").isNull()).count() == 10
    new_rows = merged.filter(F.col("epoch") == 2)
    assert new_rows.filter(F.col("channel") == "b").count() == 10


def test_approx_percentile_rank_error_bounded(spark):
    """percentile_approx is THE quantile path at 100 TB (exact percentile
    needs a full sort); its GK sketch guarantees rank error <= 1/accuracy.
    Verify the contract: each approximate percentile's TRUE rank is within
    n/accuracy of the requested rank."""
    from end_to_end_ml_spark.sources import load_table

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    n = li.count()
    accuracy = 1000
    ps = [0.01, 0.25, 0.5, 0.75, 0.99]
    approx = li.agg(
        F.percentile_approx("l_extendedprice", ps, accuracy).alias("q")
    ).collect()[0]["q"]
    for p, v in zip(ps, approx):
        true_rank = li.filter(F.col("l_extendedprice") <= v).count()
        assert abs(true_rank - p * n) <= n / accuracy + 1, (p, v, true_rank, n)


def test_write_csv_roundtrip_adversarial_content(spark, tmp_path):
    """The CSV sink must round-trip content that stresses the format:
    embedded commas, double quotes, newlines, NULLs, unicode, and
    doubles needing full precision — read back with the explicit schema
    (default Spark CSV quoting/escaping both ways)."""
    from end_to_end_ml_spark.sources.io import write_csv

    rows = [
        (1, "plain", 1.5),
        (2, "comma, inside", -0.1),
        (3, 'quote " inside', 3.141592653589793),
        (4, "new\nline", 1e-300),
        (5, None, None),
        (6, "unicodé ✓ 中文", 0.1 + 0.2),
    ]
    df = spark.createDataFrame(rows, ["id", "s", "x"])
    path = str(tmp_path / "csv")
    write_csv(df, path)
    back = (
        spark.read.schema(df.schema)
        .option("header", "true")
        .option("multiLine", "true")  # embedded newlines span physical lines
        .csv(path)
    )
    got = sorted(tuple(r) for r in back.collect())
    want = sorted(rows)
    assert got == want


def test_minhash_probe_empty_batch(spark):
    """An empty ingest batch probes to an empty result (no job failure) —
    the idle-tick case of the incremental near-dup pipeline."""
    from end_to_end_ml_spark.operators.dedup import minhash_probe_pairs

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    empty = docs.filter("doc_id < 0")
    out = minhash_probe_pairs(empty, docs, "doc_id", "text", threshold=0.5)
    assert out.count() == 0
