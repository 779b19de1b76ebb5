"""End-to-end smoke (the reference's test_pipeline_smoke.py pattern,
SURVEY §5): train → calibrate(prefit) → tune threshold → register with
sidecar → reload → batch-score with the persisted threshold."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from end_to_end_ml_spark.features import calibrate as C
from end_to_end_ml_spark.features import pipeline as FP
from end_to_end_ml_spark.functions import metrics as M
from end_to_end_ml_spark.operators import split
from end_to_end_ml_spark.plans.ml_pipeline import order_training_frame
from end_to_end_ml_spark.train import models as MZ
from end_to_end_ml_spark.train import workflow as W

SF_DIR = "/root/testdata/sf0.001"


def test_e2e_train_calibrate_serve_roundtrip(spark, tmp_path):
    df = order_training_frame(spark, SF_DIR)
    splits = split.train_valid_calib_test(df, "label", "o_orderkey")
    train, valid, calib, test = (
        splits["train"],
        splits["validation"],
        splits["calibration"],
        splits["test"],
    )
    split.validate_disjoint(splits, ["o_orderkey"])

    stages = FP.build_preprocessing_stages(
        numeric_cols=["c_acctbal"],
        categorical_cols=["o_orderpriority", "c_mktsegment"],
        variance_threshold=0.0,
    )
    fitted = FP.build_full_pipeline(stages, MZ.logistic_regression(max_iter=20)).fit(
        train
    )

    # E1: validation metrics are sane
    metrics = W.evaluate_binary(fitted.transform(valid))
    assert 0.0 <= metrics["roc_auc"] <= 1.0
    assert 0.0 <= metrics["fbeta"] <= 1.0

    # M6/M8: calibrate on the calibration split only; tune the threshold there
    calib_scored = C.positive_probability(fitted.transform(calib))
    calibrator = C.calibrate_prefit(calib_scored, "pos_proba", "label")
    thr = M.best_threshold(calib_scored, "label", "pos_proba", beta=0.5)
    assert 0.0 < thr < 1.0

    # E6/S8: register champion + sidecar; I3: reload through the fallback path
    model_path = os.path.join(str(tmp_path), "champion")
    W.register_champion(fitted, model_path, thr, pos_index=1, metrics=metrics)
    reloaded = W.load_model_with_fallback(spark, model_path)
    sidecar = C.read_serving_sidecar(os.path.join(model_path, "serving_metadata.json"))
    assert sidecar["decision_threshold"] == thr
    assert sidecar["encoded_pos_class_label"] == 1

    # I1: batch scoring from parquet with the persisted threshold
    inp = os.path.join(str(tmp_path), "inference_in")
    test.drop("label").write.parquet(inp)
    out = W.batch_score(
        spark,
        reloaded,
        inp,
        decision_threshold=sidecar["decision_threshold"],
        pos_index=sidecar["encoded_pos_class_label"],
    )
    rows = out.select("predicted_probability", "prediction").collect()
    assert len(rows) == test.count() > 0
    for r in rows:
        assert r["prediction"] == int(r["predicted_probability"] >= thr)

    # the reloaded model scores identically to the in-memory one
    a = sorted(
        (r["o_orderkey"], round(r["predicted_probability"], 9)) for r in out.collect()
    )
    direct = C.positive_probability(fitted.transform(spark.read.parquet(inp)))
    b = sorted(
        (r["o_orderkey"], round(r["pos_proba"], 9))
        for r in direct.select("o_orderkey", "pos_proba").collect()
    )
    assert a == b

    # M6 calibrator applies cleanly to new data
    cal_out = calibrator.transform(
        C.positive_probability(reloaded.transform(test)), "pos_proba"
    )
    assert cal_out.filter(
        (F.col("calibrated_proba") < 0) | (F.col("calibrated_proba") > 1)
    ).count() == 0


def test_serving_predict_records(spark, tmp_path):
    """I2: JSON records through validation → scoring → thresholded output."""
    import pytest

    from end_to_end_ml_spark import serving

    df = order_training_frame(spark, SF_DIR)
    stages = FP.build_preprocessing_stages(
        numeric_cols=["c_acctbal"],
        categorical_cols=["o_orderpriority", "c_mktsegment"],
        variance_threshold=0.0,
    )
    fitted = FP.build_full_pipeline(stages, MZ.logistic_regression(max_iter=10)).fit(df)
    schema = "o_orderkey long, c_acctbal double, o_orderpriority string, c_mktsegment string"
    expected = ["c_acctbal", "o_orderpriority", "c_mktsegment"]
    records = [
        {"o_orderkey": 1, "c_acctbal": 100.0, "o_orderpriority": "1-URGENT", "c_mktsegment": "BUILDING"},
        {"o_orderkey": 2, "c_acctbal": -5.0, "o_orderpriority": "3-MEDIUM", "c_mktsegment": "MACHINERY"},
    ]
    out = serving.predict_records(
        spark, fitted, records, schema, expected, decision_threshold=0.5, pk_col="o_orderkey"
    )
    assert len(out) == 2
    for r in out:
        assert 0.0 <= r["predicted_probability"] <= 1.0
        assert r["prediction"] == int(r["predicted_probability"] >= 0.5)

    with pytest.raises(ValueError, match="missing"):
        serving.predict_records(
            spark, fitted, [{"c_acctbal": 1.0}], schema, expected, pk_col="o_orderkey"
        )


def test_serving_predict_records_request_order(spark):
    """A multi-partition request in non-key order is answered in request
    order, with and without a pk column: the order is restored from the
    request index, not from the key or the partition layout."""
    import random

    from end_to_end_ml_spark import serving
    from end_to_end_ml_spark.sources.io import ingest_json_records

    df = order_training_frame(spark, SF_DIR)
    stages = FP.build_preprocessing_stages(
        numeric_cols=["c_acctbal"],
        categorical_cols=["o_orderpriority", "c_mktsegment"],
        variance_threshold=0.0,
    )
    fitted = FP.build_full_pipeline(stages, MZ.logistic_regression(max_iter=10)).fit(df)
    schema = "o_orderkey long, c_acctbal double, o_orderpriority string, c_mktsegment string"
    expected = ["c_acctbal", "o_orderpriority", "c_mktsegment"]
    fields = ["o_orderkey", *expected]
    records = [r.asDict() for r in df.select(*fields).orderBy("o_orderkey").limit(80).collect()]
    random.Random(7).shuffle(records)
    keys = [r["o_orderkey"] for r in records]
    assert keys != sorted(keys)
    assert ingest_json_records(spark, records, schema).rdd.getNumPartitions() > 1

    keyed = serving.predict_records(spark, fitted, records, schema, expected, pk_col="o_orderkey")
    assert [r["o_orderkey"] for r in keyed] == keys
    unkeyed = serving.predict_records(
        spark, fitted, [{c: r[c] for c in expected} for r in records],
        "c_acctbal double, o_orderpriority string, c_mktsegment string", expected,
    )
    assert unkeyed == [
        {c: r[c] for c in ("predicted_probability", "prediction")} for r in keyed
    ]

def test_serving_predict_records_runs_no_job(spark):
    """A request is an Arrow LocalRelation, so the optimizer folds the
    whole fitted pipeline into it on the driver: predict_records launches
    no Spark job (and so starts no Python worker). A wrong-typed request
    value still raises, as it did when the request was a Python-row
    frame."""
    import pytest

    from end_to_end_ml_spark import serving

    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    df = spark.createDataFrame(
        [
            (float(i % 17) * 100.0, priorities[i % 5], segments[(i // 5) % 5],
             float((i % 17 > 8) != (i % 5 == 0)))
            for i in range(200)
        ],
        ["c_acctbal", "o_orderpriority", "c_mktsegment", "label"],
    )
    stages = FP.build_preprocessing_stages(
        numeric_cols=["c_acctbal"],
        categorical_cols=["o_orderpriority", "c_mktsegment"],
        variance_threshold=0.0,
    )
    fitted = FP.build_full_pipeline(stages, MZ.logistic_regression(max_iter=10)).fit(df)
    schema = "o_orderkey long, c_acctbal double, o_orderpriority string, c_mktsegment string"
    expected = ["c_acctbal", "o_orderpriority", "c_mktsegment"]
    records = [
        {"o_orderkey": k, "c_acctbal": 100.0 * k, "o_orderpriority": priorities[k],
         "c_mktsegment": segments[-k]}
        for k in range(5)
    ]
    sc = spark.sparkContext
    sc.setJobGroup("predict-records-jobs", "predict_records")
    try:
        out = serving.predict_records(spark, fitted, records, schema, expected, pk_col="o_orderkey")
        jobs = sc.statusTracker().getJobIdsForGroup("predict-records-jobs")
    finally:
        sc.setJobGroup(None, None)
    assert [r["o_orderkey"] for r in out] == list(range(5))
    assert jobs == []

    bad = [{**records[0], "c_acctbal": "a lot"}]
    with pytest.raises(TypeError):
        serving.predict_records(spark, fitted, bad, schema, expected, pk_col="o_orderkey")


def test_local_json_tracker_full_run_log(tmp_path):
    """E7: the always-on local tracker produces a complete run log —
    params, per-model metrics, trial assets, champion, gate decision,
    registration — surviving a write/read round trip."""
    import json

    from end_to_end_ml_spark.train.tracking import (
        LocalJsonTracker,
        create_tracker,
    )

    tr = create_tracker(str(tmp_path), run_name="t")
    assert isinstance(tr, LocalJsonTracker)  # mlflow absent -> local fallback
    tr.log_parameters({"sf_dir": "/x", "champion": "logistic_regression"})
    tr.log_parameter("gate_passed", True)
    tr.log_metrics({"logreg__fbeta": 0.8, "logreg__roc_auc": 0.9})
    tr.log_metric("loss", 0.5, step=1)
    tr.log_metric("loss", 0.4, step=2)
    tr.log_asset("trials_logreg", [{"number": 0, "value": 0.8}])
    tr.log_confusion_matrix([{"label": 0, "prediction": 0, "n": 10}])
    tr.log_model("logistic_regression", "/models/champ")
    tr.register_model("logistic_regression", path="/models/champ", threshold=0.42)
    assert tr.get_metric("logreg__fbeta") == 0.8
    assert tr.get_metric("missing") is None
    tr.end()
    tr.end()  # idempotent

    doc = json.load(open(tr.path))
    assert doc["params"]["champion"] == "logistic_regression"
    assert doc["params"]["gate_passed"] is True
    assert doc["metrics"]["logreg__fbeta"] == 0.8
    assert doc["metrics"]["loss"] == 0.4  # last value wins
    assert [s["step"] for s in doc["metric_steps"]] == [1, 2]
    assert doc["assets"]["trials_logreg"][0]["value"] == 0.8
    assert doc["assets"]["confusion_matrix"][0]["n"] == 10
    assert doc["models"]["logistic_regression"] == "/models/champ"
    assert doc["registered"][0]["threshold"] == 0.42
    assert doc["started_at"] <= doc["ended_at"]


def test_tracker_backend_selection(tmp_path):
    import pytest as _pytest

    from end_to_end_ml_spark.train import tracking

    assert isinstance(
        tracking.create_tracker(str(tmp_path), backend="local"),
        tracking.LocalJsonTracker,
    )
    try:
        import mlflow  # noqa: F401

        has_mlflow = True
    except ImportError:
        has_mlflow = False
    if not has_mlflow:
        with _pytest.raises(ImportError):
            tracking.create_tracker(str(tmp_path), backend="mlflow")


def test_evaluation_figure_assets_logged(spark, tmp_path):
    """E7 gap (reference visualizer.py:77-183): ROC / PR / lift figure
    data must land in the tracker as figure_* assets; each payload is a
    bounded curve table, never the scored rows."""
    from end_to_end_ml_spark.train import visualize as V
    from end_to_end_ml_spark.train.tracking import LocalJsonTracker

    scored = spark.range(0, 400).selectExpr(
        "id as pk",
        "cast(id % 2 as int) as label",
        "((id * 37) % 101) / 101.0 as pos_proba",
    )
    tracker = LocalJsonTracker(str(tmp_path), run_name="figrun")
    figures = V.log_evaluation_figures(
        tracker, scored, tiebreak_col="pk", score_precision=2
    )
    tracker.end()
    import json

    doc = json.load(open(tracker.path))
    for name in ("figure_roc_curve", "figure_pr_curve", "figure_lift_gains"):
        assert doc["assets"][name], name
        assert doc["assets"][name] == figures[name]
    assert len(doc["assets"]["figure_roc_curve"]) <= 102  # bounded by precision
    assert {r["decile"] for r in doc["assets"]["figure_lift_gains"]} == set(range(1, 11))
    # curve points carry the render-ready fields
    assert {"tpr", "fpr", "threshold"} <= set(doc["assets"]["figure_roc_curve"][0])
    assert {"precision", "recall"} <= set(doc["assets"]["figure_pr_curve"][0])
