"""Unit tests for prep operators — mirrors the reference's
tests/test_feature/test_data_preprocessor.py behaviors (keep-last dedup,
token normalization, type enforcement, recode contracts)."""

from __future__ import annotations

import pytest

from end_to_end_ml_spark.operators import prep


def test_blanks_to_null(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("  ", "y"), ("", "z"), ("b", " \t ")], ["c1", "c2"]
    )
    out = prep.blanks_to_null(df).collect()
    assert [r["c1"] for r in out] == ["a", None, None, "b"]
    assert [r["c2"] for r in out] == ["x", "y", "z", None]


def test_normalize_missing_tokens(spark):
    df = spark.createDataFrame(
        [("<NA>",), ("null",), ("?",), ("N/A",), ("nan",), ("ok",)], ["c"]
    )
    out = prep.normalize_missing_tokens(df).collect()
    assert [r["c"] for r in out] == [None] * 5 + ["ok"]


def test_enforce_types_coerce(spark):
    df = spark.createDataFrame(
        [("2024-01-01", "1.5", 7), ("not-a-date", "2.5", 8)], ["d", "n", "c"]
    )
    out = prep.enforce_types(
        df, numeric_cols=["n"], categorical_cols=["c"], date_cols=["d"]
    )
    types = dict(out.dtypes)
    assert types == {"d": "timestamp", "n": "float", "c": "string"}
    rows = out.collect()
    assert rows[0]["d"] is not None and rows[1]["d"] is None  # coerce → null


def test_null_fraction_audit(spark):
    df = spark.createDataFrame([(1, None), (2, "x"), (None, None)], "a int, b string")
    out = {r["column_name"]: r["null_fraction"] for r in prep.null_fraction_audit(df).collect()}
    assert out["a"] == pytest.approx(1 / 3)
    assert out["b"] == pytest.approx(2 / 3)


def test_high_null_columns(spark):
    """Flagging columns above a null-fraction threshold reads off
    null_fraction_audit's report."""
    df = spark.createDataFrame([(1, None), (2, None), (3, "x")], "a int, b string")
    audit = prep.null_fraction_audit(df).collect()
    assert [r["column_name"] for r in audit if r["null_fraction"] > 0.5] == ["b"]


def test_high_null_columns_respects_exclude(spark):
    """Reference parity (identify_cols_with_high_nans cols_to_exclude,
    test_data_preprocessor.py:432): a column left out of ``cols`` is never
    reported even above threshold; the others still are, sorted by
    fraction descending, then by name."""
    df = spark.createDataFrame(
        [(None, None, 1), (1, None, 2), (None, None, 3), (None, 1, 4)],
        "a int, b int, c int",
    )

    # a: 0.75, b: 0.75, c: 0.0
    def flagged(cols=None):
        audit = prep.null_fraction_audit(df, cols).collect()
        return [r["column_name"] for r in audit if r["null_fraction"] > 0.5]

    assert flagged() == ["a", "b"]
    assert flagged(["b", "c"]) == ["b"]
    assert flagged(["c"]) == []


def test_dedup_keep_last(spark, tmp_path):
    """P6 keep-last dedup as the registry row p6_latest_order_per_customer
    runs it: one row per customer, the latest o_orderdate wins and the
    larger o_orderkey breaks a date tie."""
    import datetime as dt

    from end_to_end_ml_spark.plans.relational import latest_order_per_customer

    spark.createDataFrame(
        [
            (1, 10, dt.date(2020, 1, 1), "old"),
            (2, 10, dt.date(2021, 1, 1), "new"),
            (3, 20, dt.date(2020, 5, 5), "tie-lo"),
            (4, 20, dt.date(2020, 5, 5), "tie-hi"),
            (5, 30, dt.date(2019, 1, 1), "only"),
        ],
        "o_orderkey long, o_custkey long, o_orderdate date, o_comment string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    out = latest_order_per_customer(spark, str(tmp_path)).collect()
    assert [(r["o_custkey"], r["o_comment"]) for r in out] == [
        (10, "new"), (20, "tie-hi"), (30, "only")
    ]


def _dup_check(spark, tmp_path, rows):
    """P5 as the registry row p5_dup_check runs it, over a lineitem
    table of ``rows``: (row_dupes, pk_dupes)."""
    from end_to_end_ml_spark.plans.entry_queries import p_dup_check

    spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber int, l_comment string"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    r = p_dup_check(spark, str(tmp_path)).collect()[0]
    return r["row_dupes"], r["pk_dupes"]


def test_validate_no_duplicates_raises(spark, tmp_path):
    """A full-row duplicate counts as both a row dupe and a primary-key
    dupe; a clean table reports zero of each (P5 reports the counts, the
    caller decides whether to stop)."""
    assert _dup_check(spark, tmp_path / "dup", [(1, 1, "a"), (1, 1, "a"), (2, 1, "b")]) == (1, 1)
    assert _dup_check(spark, tmp_path / "clean", [(1, 1, "a"), (1, 2, "a")]) == (0, 0)


def test_validate_no_duplicates_pk_only(spark, tmp_path):
    """Rows that differ outside the key are no row dupes but still
    primary-key dupes: three copies of one key count two."""
    rows = [(1, 1, "a"), (1, 1, "b"), (1, 1, "c"), (2, 1, "a")]
    assert _dup_check(spark, tmp_path, rows) == (0, 2)


def test_recode_values_passthrough(spark):
    df = spark.createDataFrame([("1",), ("2",), ("9",)], ["g"])
    out = prep.recode_values(df, "g", {"1": "Poor", "2": "Fair"}).collect()
    assert [r["g"] for r in out] == ["Poor", "Fair", "9"]  # unmapped passes through


def test_recode_missing_column_warns_categorical_raises_class(spark, caplog):
    """Reference parity (test_data_transformer.py): a missing column is a
    WARNING + no-op for the categorical recode (prep.py:669-684) but a
    ValueError with on_missing="error", the class-label contract
    (prep.py:686-704)."""
    import logging

    df = spark.createDataFrame([("1",)], ["g"])
    with caplog.at_level(logging.WARNING):
        out = prep.recode_values(df, "NonExistentColumn", {"1": "First"})
    assert out is df  # no-op
    assert any(
        "Column NonExistentColumn doesn't exist in data." in r.getMessage()
        for r in caplog.records
    )
    with pytest.raises(ValueError, match="doesn't exist in data"):
        prep.recode_values(df, "Class", {"0": "Non-Diabetic"}, on_missing="error")


def test_recode_error_messages_distinguish_paths(spark):
    """recode_values serves ordinary categorical columns, so its
    on_missing='error' message is generic (no 'Class column' wording)."""
    df = spark.createDataFrame([("1",)], ["g"])
    with pytest.raises(ValueError, match=r"^Column cat doesn't exist"):
        prep.recode_values(df, "cat", {"1": "First"}, on_missing="error")


def test_validate_request_schema():
    from end_to_end_ml_spark.operators.prep import validate_request_schema

    expected = ["BMI", "Age", "Smoker"]
    ok = validate_request_schema(expected, {"BMI": 1, "Age": 2, "Smoker": 0, "ID": 9}, pk_col="ID")
    assert ok == {"missing": [], "unexpected": []}
    bad = validate_request_schema(expected, {"BMI": 1, "Extra": 5})
    assert bad["missing"] == ["Age", "Smoker"]
    assert bad["unexpected"] == ["Extra"]


def test_merge_upsert_update_insert_delete(spark):
    """SCD-1 merge: change wins on match, new keys insert, tombstoned keys
    drop, untouched base rows pass through."""
    from pyspark.sql import functions as F

    from end_to_end_ml_spark.operators import merge as mg

    base = spark.createDataFrame(
        [(1, 10, "a", 1.0), (2, 11, "b", 2.0), (3, 12, "c", 3.0)],
        "k long, ts long, kind string, v double",
    )
    changes = spark.createDataFrame(
        [
            (2, 20, "b2", 2.5),   # update
            (2, 15, "old", 9.9),  # stale change: newer one must win
            (4, 21, "d", 4.0),    # insert
            (3, 22, "DEL", 0.0),  # tombstone
        ],
        "k long, ts long, kind string, v double",
    )
    out = mg.merge_upsert(
        base, changes, ["k"], "ts", delete_predicate=F.col("kind") == "DEL"
    )
    rows = {r["k"]: (r["ts"], r["kind"], r["v"]) for r in out.collect()}
    assert rows == {
        1: (10, "a", 1.0),    # untouched base
        2: (20, "b2", 2.5),   # latest change won
        4: (21, "d", 4.0),    # inserted
    }


def test_merge_upsert_tiebreak_deterministic(spark):
    from end_to_end_ml_spark.operators import merge as mg

    changes = spark.createDataFrame(
        [(1, 5, 100, "x"), (1, 5, 200, "y")], "k long, ts long, pk long, kind string"
    )
    base = spark.createDataFrame([(1, 0, 0, "base")], "k long, ts long, pk long, kind string")
    out = mg.merge_upsert(base, changes, ["k"], "ts", tiebreak_cols=["pk"])
    assert out.collect()[0]["kind"] == "y"  # higher pk wins the ts tie


def test_column_profile_counts_nulls_distinct(spark):
    from end_to_end_ml_spark.operators.prep import profile_columns

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), (None, 2), ("b", None)], "s string, n int"
    )
    prof = {r["column"]: r for r in profile_columns(df).collect()}
    assert prof["s"]["n_rows"] == 4
    assert prof["s"]["n_nulls"] == 1
    assert prof["s"]["n_distinct"] == 2  # NULL not counted
    assert prof["s"]["min_value"] == "a" and prof["s"]["max_value"] == "b"
    assert prof["n"]["n_nulls"] == 1
    assert prof["n"]["min_value"] == "1" and prof["n"]["max_value"] == "2"


def test_deterministic_shard_is_stable(spark):
    """Shard membership is a pure function of the id: the same docs in a
    different partitioning get the same shard, and n_hex=1 gives at most
    16 shards."""
    from end_to_end_ml_spark.sources import io as sio
    from end_to_end_ml_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = docs.select("doc_id", sio.deterministic_shard("doc_id", 1).alias("s1"))
    b = docs.repartition(7).select(
        "doc_id", sio.deterministic_shard("doc_id", 1).alias("s2")
    )
    joined = a.join(b, "doc_id")
    assert joined.count() == docs.count()
    assert joined.filter("s1 != s2").count() == 0
    assert a.select("s1").distinct().count() <= 16


def test_id_gap_audit_cross_bucket_boundary(spark):
    """The largest gap spans a BUCKET BOUNDARY (keys 5 and 9000 with
    bucket_size=4096 land in buckets 0 and 2), so only the boundary-gap
    window can see it; duplicates and missing counts exact."""
    from end_to_end_ml_spark.operators.prep import id_gap_audit

    keys = [1, 2, 3, 5, 9000, 9001, 9001, 9005]
    df = spark.createDataFrame([(k,) for k in keys], ["id"])
    r = id_gap_audit(df, "id", bucket_size=4096).collect()[0]
    assert r["total_rows"] == 8
    assert r["distinct_keys"] == 7
    assert r["duplicate_keys"] == 1  # 9001 twice
    assert (r["min_key"], r["max_key"]) == (1, 9005)
    assert r["missing_ids"] == 9005 - 1 + 1 - 7
    assert r["largest_gap"] == 9000 - 5 - 1  # crosses buckets 0 -> 2


def test_id_gap_audit_dense_no_gaps(spark):
    from end_to_end_ml_spark.operators.prep import id_gap_audit

    df = spark.createDataFrame([(k,) for k in range(100)], ["id"])
    r = id_gap_audit(df, "id", bucket_size=16).collect()[0]
    assert r["missing_ids"] == 0 and r["largest_gap"] == 0
    assert r["duplicate_keys"] == 0 and r["total_rows"] == 100


def test_id_gap_audit_derived_bucket_width_wide_keyspace(spark):
    """Round-8 verdict #3: the DEFAULT (no bucket_size) must bound the
    cross-bucket frame at any keyspace. A 10^12-wide key span would have
    produced ~2.4×10^8 cross-bucket rows at the old fixed 4096 default;
    the derived width (1 + span div 65536 ≈ 1.5×10^7) caps the frame at
    ≤ 65538 rows while every audit number stays exact — including a
    largest-gap that crosses derived-bucket boundaries."""
    from end_to_end_ml_spark.operators.prep import id_gap_audit

    lo, hi = 7, 10**12
    keys = [lo, lo + 1, 5 * 10**11, 5 * 10**11, 5 * 10**11 + 2, hi]
    df = spark.createDataFrame([(k,) for k in keys], ["id"])
    r = id_gap_audit(df, "id").collect()[0]
    assert r["total_rows"] == 6
    assert r["distinct_keys"] == 5
    assert r["duplicate_keys"] == 1
    assert (r["min_key"], r["max_key"]) == (lo, hi)
    assert r["missing_ids"] == hi - lo + 1 - 5
    assert r["largest_gap"] == hi - (5 * 10**11 + 2) - 1
    # whitebox: the derived width puts every key into ≤ target+2 buckets
    span = hi - lo
    bsz = max(1, 1 + span // 65536)
    assert len({k // bsz for k in keys}) <= 65538
    assert hi // bsz - lo // bsz <= 65537


def test_id_gap_audit_derived_equals_fixed(spark):
    """Derived sizing is a pure performance knob: same numbers as the
    fixed-width form on the same data."""
    from end_to_end_ml_spark.operators.prep import id_gap_audit

    keys = [1, 2, 3, 5, 9000, 9001, 9001, 9005]
    df = spark.createDataFrame([(k,) for k in keys], ["id"])
    a = id_gap_audit(df, "id").collect()[0]
    b = id_gap_audit(df, "id", bucket_size=4096).collect()[0]
    assert a.asDict() == b.asDict()


def test_target_encode_table_shrinks_to_prior(spark):
    """m=10 shrinkage: a 2-row category is pulled hard toward the global
    prior, a 1000-row one barely moves; exact closed-form check."""
    from end_to_end_ml_spark.features.pipeline import target_encode_table

    rows = [("rare", 100.0)] * 2 + [("big", 10.0)] * 1000
    df = spark.createDataFrame(rows, ["cat", "y"])
    out = {r["cat"]: r for r in target_encode_table(df, "cat", "y", smoothing=10).collect()}
    prior = (2 * 100.0 + 1000 * 10.0) / 1002
    assert out["rare"]["n"] == 2
    assert out["rare"]["target_enc"] == pytest.approx((200.0 + 10 * prior) / 12)
    assert out["big"]["target_enc"] == pytest.approx((10000.0 + 10 * prior) / 1010)
    # shrinkage direction: rare lands between its own mean and the prior
    assert prior < out["rare"]["target_enc"] < 100.0
