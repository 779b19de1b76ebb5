"""Unit tests for prep operators — mirrors the reference's
tests/test_feature/test_data_preprocessor.py behaviors (keep-last dedup,
token normalization, type enforcement, step ordering)."""

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


def test_dedup_keep_last(spark):
    df = spark.createDataFrame(
        [(1, 10, "old"), (1, 20, "new"), (2, 5, "only")], ["pk", "ts", "v"]
    )
    out = {r["pk"]: r["v"] for r in prep.dedup_keep_last(df, ["pk"], "ts").collect()}
    assert out == {1: "new", 2: "only"}


def test_validate_no_duplicates_raises(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a")], ["pk", "v"])
    with pytest.raises(ValueError, match="duplicate"):
        prep.validate_no_duplicates(df, ["pk"])


def test_validate_no_duplicates_pk_only(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b")], ["pk", "v"])
    with pytest.raises(ValueError, match="primary key"):
        prep.validate_no_duplicates(df, ["pk"])


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
    df = spark.createDataFrame([(1, None), (2, None), (3, "x")], "a int, b string")
    assert prep.high_null_columns(df, threshold=0.5) == ["b"]


def test_high_null_columns_respects_exclude(spark):
    """Reference parity (identify_cols_with_high_nans cols_to_exclude,
    test_data_preprocessor.py:432): excluded columns are never flagged
    even above threshold; others still are."""
    df = spark.createDataFrame(
        [(None, None, 1), (1, None, 2), (None, None, 3), (None, 1, 4)],
        "a int, b int, c int",
    )
    # a: 0.75, b: 0.75, c: 0.0
    assert prep.high_null_columns(df, threshold=0.5) == ["a", "b"]
    assert prep.high_null_columns(df, threshold=0.5, exclude=["a"]) == ["b"]
    assert prep.high_null_columns(df, threshold=0.5, exclude=["a", "b"]) == []


def test_recode_values_passthrough(spark):
    df = spark.createDataFrame([("1",), ("2",), ("9",)], ["g"])
    out = prep.recode_values(df, "g", {"1": "Poor", "2": "Fair"}).collect()
    assert [r["g"] for r in out] == ["Poor", "Fair", "9"]  # unmapped passes through


def test_recode_missing_column_warns_categorical_raises_class(spark, caplog):
    """Reference parity (test_data_transformer.py): a missing column is a
    WARNING + no-op for the categorical recode (prep.py:669-684) but a
    ValueError for the class-label recode (prep.py:686-704)."""
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
        prep.recode_class_labels(df, "Class", {"0": "Non-Diabetic"})


def test_recode_error_messages_distinguish_paths(spark):
    """round-9 ADVICE: recode_values serves ordinary categorical columns,
    so its on_missing='error' message is generic; only
    recode_class_labels (which pre-checks) says 'Class column'."""
    df = spark.createDataFrame([("1",)], ["g"])
    with pytest.raises(ValueError, match=r"^Column cat doesn't exist"):
        prep.recode_values(df, "cat", {"1": "First"}, on_missing="error")
    with pytest.raises(ValueError, match=r"^Class column y doesn't exist"):
        prep.recode_class_labels(df, "y", {"0": "No"})


def test_recode_class_labels_casts_then_maps(spark):
    """map_class_labels parity: astype(string) BEFORE replace, so an
    integer-typed label column maps through its string form."""
    df = spark.createDataFrame([(0,), (1,), (0,)], ["Class"])
    out = prep.recode_class_labels(
        df, "Class", {"0": "Non-Diabetic", "1": "Diabetic"}
    ).collect()
    assert [r["Class"] for r in out] == ["Non-Diabetic", "Diabetic", "Non-Diabetic"]


def test_sanitize_column_names(spark):
    df = spark.createDataFrame([(1, 2)], ["a col!", "b(c)"])
    assert prep.sanitize_column_names(df).columns == ["a_col_", "b_c_"]


def test_prep_pipeline_order_and_insert(spark):
    df = spark.createDataFrame([(" ",), ("null",)], ["c"])
    pipe = prep.PrepPipeline([lambda d: prep.normalize_missing_tokens(d)])
    pipe.add_step(lambda d: prep.blanks_to_null(d), position=0)
    out = pipe.run(df).collect()
    assert [r["c"] for r in out] == [None, None]


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


def test_export_training_shards_stable_and_sorted(spark, tmp_path):
    """Shard membership must be reproducible (pure function of the id) and
    each shard directory internally sorted by the sort key."""
    from end_to_end_ml_spark.sources import io as sio
    from end_to_end_ml_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "shards")
    sharded = sio.export_training_shards(docs, "doc_id", path, n_hex=1)
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    # membership is deterministic: re-deriving the shard from doc_id agrees
    rederived = back.withColumn(
        "shard2", sio.deterministic_shard("doc_id", 1)
    ).filter("shard != shard2")
    assert rederived.count() == 0
    # sorted within each shard file
    import pandas as pd

    for r in back.select("shard").distinct().collect():
        pdf = (
            back.filter(back["shard"] == r["shard"]).select("doc_id").toPandas()
        )
        ids = pdf["doc_id"].tolist()
        # file read order == write order within the shard's files
        assert ids == sorted(ids)
    assert sharded.select("shard").distinct().count() <= 16


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


def test_prep_pipeline_prepend_append_order(spark):
    """Reference parity (test_prepend_and_append_steps_are_applied_in_order):
    prepend steps run before base, append steps after, add_step at an
    explicit position lands where asked."""
    calls = []

    def mk(tag):
        def step(df):
            calls.append(tag)
            return df

        return step

    pipe = prep.PrepPipeline(
        [mk("base")], prepend_steps=[mk("pre")], append_steps=[mk("post")]
    )
    pipe.add_step(mk("added"))          # appends after post
    pipe.add_step(mk("inserted"), 1)    # between pre and base
    df = spark.createDataFrame([(1,)], ["a"])
    pipe.run(df).collect()
    assert calls == ["pre", "inserted", "base", "post", "added"]
