"""End-to-end pipeline driver — the engine's equivalent of the reference's
`make prep_data && make split_data && make train && make evaluate` +
`python -m src.inference.predict` flow (README.md:8-39), on the synthetic
star schema.

Usage: python tools/run_pipeline.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from end_to_end_ml_spark.features import calibrate as C  # noqa: E402
from end_to_end_ml_spark.features import pipeline as FP  # noqa: E402
from end_to_end_ml_spark.functions import metrics as M  # noqa: E402
from end_to_end_ml_spark.operators import split  # noqa: E402
from end_to_end_ml_spark.plans.ml_pipeline import order_training_frame  # noqa: E402
from end_to_end_ml_spark.session import get_spark  # noqa: E402
from end_to_end_ml_spark.sources.io import write_csv  # noqa: E402
from end_to_end_ml_spark.train import models as MZ  # noqa: E402
from end_to_end_ml_spark.train import tuner as T  # noqa: E402
from end_to_end_ml_spark.train import visualize as V  # noqa: E402
from end_to_end_ml_spark.train import workflow as W  # noqa: E402
from end_to_end_ml_spark.train.tracking import create_tracker  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_ml_engine_run"
    spark = get_spark("run-pipeline")
    tracker = create_tracker(out_dir, run_name="pipeline_run")
    tracker.log_parameters({"sf_dir": sf_dir, "out_dir": out_dir})

    # ---- prep + split (reference: prep_data.py, split_data.py) ----
    df = order_training_frame(spark, sf_dir)

    # data-quality gate before anything trains (one scan; raises on breach)
    from end_to_end_ml_spark.operators.expect import Check, enforce

    enforce(
        Check()
        .row_count_min(100)
        .unique_key("o_orderkey")
        .null_frac_max("label", 0.0)
        .accepted_values("label", [0, 1])
        .run(df)
    )

    splits = split.train_valid_calib_test(df, "label", "o_orderkey")
    split.validate_disjoint(splits, ["o_orderkey"])
    train, valid = splits["train"], splits["validation"]
    calib, test = splits["calibration"], splits["test"]
    dist = {
        r["label"]: r["n"] for r in split.class_distribution(train, "label").collect()
    }
    print(f"splits: { {k: v.count() for k, v in splits.items()} } train dist: {dist}")

    # ---- tune + train per model (reference: train.py, trainer.py) ----
    stages = FP.build_preprocessing_stages(
        numeric_cols=["c_acctbal"],
        categorical_cols=["o_orderpriority", "c_mktsegment"],
        variance_threshold=0.0,
    )

    def fbeta_on(scored) -> float:
        with_p = C.positive_probability(scored)
        pred = M.apply_threshold(with_p, "pos_proba", 0.5)
        return float(
            M.binary_metrics(pred, "label", "prediction", beta=0.5)
            .collect()[0]["fbeta"]
        )

    candidates: dict[str, dict] = {}
    fitted_models: dict[str, object] = {}
    spaces = {
        "logistic_regression": {
            "C": ("float_log", 0.01, 100.0),
            "l1_ratio": ("categorical", [0.0, 0.5, 1.0]),
        },
        "gradient_boosting": {
            "max_depth": ("int", 2, 5),
            "n_estimators": ("categorical", [10, 20]),
        },
    }
    for name, space in spaces.items():
        def objective(params, _name=name):
            pipe = FP.build_full_pipeline(stages, MZ.MODEL_BUILDERS[_name](**params))
            return fbeta_on(pipe.fit(train).transform(valid))

        study = T.tune(objective, space, n_trials=4, seed=42)
        best = study.best_trial
        pipe = FP.build_full_pipeline(stages, MZ.MODEL_BUILDERS[name](**best.params))
        fitted = pipe.fit(train)
        candidates[name] = W.evaluate_binary(fitted.transform(valid))
        fitted_models[name] = fitted
        write_csv(
            spark.createDataFrame([json.loads(json.dumps(r)) for r in study.to_rows()]),
            os.path.join(out_dir, f"trials_{name}"),
        )
        tracker.log_parameters({f"{name}__{k}": v for k, v in best.params.items()})
        tracker.log_metrics({f"{name}__{k}": v for k, v in candidates[name].items()})
        tracker.log_asset(f"trials_{name}", study.to_rows())
        print(f"{name}: valid={candidates[name]}")

    # ---- select + gate + importances + threshold + register (evaluate.py) ----
    # M6 calibration is not run: the served PipelineModel + sidecar carries
    # no calibrator, so the threshold is tuned on the raw pos_proba.
    champ = W.select_champion(candidates, "fbeta")
    W.deployment_gate(candidates[champ], "fbeta", threshold=0.3)
    fitted = fitted_models[champ]
    importances = MZ.feature_importances(fitted, FP.recover_feature_names(fitted, train))
    tracker.log_asset(
        "feature_importances", [{"feature": n, "importance": v} for n, v in importances]
    )
    print(f"{champ} importances: {sorted(importances, key=lambda p: -p[1])}")
    calib_scored = C.positive_probability(fitted.transform(calib))
    thr = M.best_threshold(calib_scored, "label", "pos_proba", beta=0.5)
    model_path = os.path.join(out_dir, "champion")
    W.register_champion(fitted, model_path, thr, pos_index=1, metrics=candidates[champ])
    tracker.log_parameter("champion", champ)
    tracker.log_parameter("decision_threshold", thr)
    tracker.log_parameter("gate_passed", True)
    tracker.log_model(champ, model_path)
    tracker.register_model(champ, path=model_path, threshold=thr)
    print(f"champion={champ} threshold={thr:.3f} registered at {model_path}")

    # ---- batch inference (predict.py / helpers.py) ----
    test_in = os.path.join(out_dir, "inference_in")
    test.drop("label").write.mode("overwrite").parquet(test_in)
    reloaded = W.load_model_with_fallback(spark, model_path)
    sidecar = C.read_serving_sidecar(os.path.join(model_path, "serving_metadata.json"))
    out = W.batch_score(
        spark,
        reloaded,
        test_in,
        output_path=os.path.join(out_dir, "predictions"),
        decision_threshold=sidecar["decision_threshold"],
        pos_index=sidecar["encoded_pos_class_label"],
    )
    test_metrics = W.evaluate_binary(fitted.transform(test), threshold=thr)
    tracker.log_metrics({f"test__{k}": v for k, v in test_metrics.items()})
    # ---- evaluation figures (reference visualizer.py:77-183) ----
    V.log_evaluation_figures(
        tracker,
        C.positive_probability(fitted.transform(test)),
        label_col="label",
        proba_col="pos_proba",
        tiebreak_col="o_orderkey",
        render_dir=os.path.join(out_dir, "figures"),
    )
    tracker.end()
    print(f"scored {out.count()} rows; test metrics: {test_metrics}")
    print("DONE")


if __name__ == "__main__":
    main()
