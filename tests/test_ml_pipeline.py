"""MLlib feature pipeline + training workflow tests (reference §2.7-2.11:
pipeline smoke test modeled on tests/test_training/test_pipeline_smoke.py,
calibration tests on test_calibration_threshold.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_ml_spark.features import calibrate as C
from end_to_end_ml_spark.features import pipeline as FP
from end_to_end_ml_spark.train import models as MZ
from end_to_end_ml_spark.train import tuner
from end_to_end_ml_spark.train.workflow import (
    deployment_gate,
    evaluate_binary,
    select_champion,
)

ROWS = [
    # (id, num_a, cat_b, label_str): separable-ish synthetic data
    (i, float(i % 10) + (5.0 if i % 2 else 0.0), "x" if i % 2 else "y", "pos" if i % 2 else "neg")
    for i in range(120)
] + [(1000, None, None, "pos")]  # a row with missing values


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(ROWS, ["id", "num_a", "cat_b", "label_str"])


def test_label_indexer_alphabetical(spark, frame):
    m = FP.fit_label_indexer(frame, "label_str")
    assert list(m.labels) == ["neg", "pos"]  # lexicographic = sklearn parity
    assert FP.positive_label_index(m, "pos") == 1


def test_preprocessing_pipeline_fit_transform(spark, frame):
    m = FP.fit_label_indexer(frame, "label_str")
    from pyspark.ml import Pipeline

    pipe = Pipeline(
        stages=FP.build_preprocessing_stages(
            numeric_cols=["num_a"], categorical_cols=["cat_b"], variance_threshold=0.0
        )
    )
    labeled = m.transform(frame)
    fitted = pipe.fit(labeled)
    out = fitted.transform(labeled)
    assert "features" in out.columns
    assert out.count() == len(ROWS)  # missing values imputed, no row loss


def test_infrequent_collapser(spark):
    rows = [(i, "common") for i in range(99)] + [(99, "rare")]
    df = spark.createDataFrame(rows, ["id", "c"])
    model = FP.InfrequentCollapser(inputCols=["c"], minFrequency=0.05).fit(df)
    out = model.transform(df)
    vals = {r["c"] for r in out.collect()}
    assert vals == {"common", FP.INFREQUENT}
    # unseen value at transform time also collapses
    new = spark.createDataFrame([(1, "never_seen")], ["id", "c"])
    assert model.transform(new).collect()[0]["c"] == FP.INFREQUENT


def test_infrequent_collapser_cutoff_counts_every_row(spark):
    """The cutoff is minFrequency x the ROW count — null values included —
    per column, with a category at exactly the cutoff kept: c1's 13 nulls
    keep "d" (3 < 0.1 x 40) out, which a non-null total (27) would let in."""
    c1 = ["a"] * 20 + ["b"] * 4 + ["d"] * 3 + [None] * 13
    c2 = ["x"] * 36 + ["y"] * 4
    df = spark.createDataFrame(list(zip(range(40), c1, c2)), "id int, c1 string, c2 string")
    model = FP.InfrequentCollapser(inputCols=["c1", "c2"], minFrequency=0.1).fit(df)
    want = {
        col: {v for v in set(vals) - {None} if vals.count(v) >= 0.1 * len(vals)}
        for col, vals in (("c1", c1), ("c2", c2))
    }
    assert {c: set(v) for c, v in model.frequent.items()} == want
    assert want == {"c1": {"a", "b"}, "c2": {"x", "y"}}


def test_unseen_category_with_zero_infrequent_at_fit(spark):
    """ADVICE r1 (medium): when NO training category is below min_frequency,
    __infrequent__ is absent from the fit data — the encode path must still
    accept an unseen category at transform time and route it to the
    __infrequent__ bucket instead of crashing in OneHotEncoder."""
    from pyspark.ml import Pipeline

    fit_df = spark.createDataFrame(
        [(i, "x" if i % 2 else "y") for i in range(100)], ["id", "c"]
    )
    stages = FP.build_preprocessing_stages(
        numeric_cols=[], categorical_cols=["c"],
        min_category_frequency=0.01,  # both cats are frequent: no collapse
        variance_threshold=0.0,
    )
    fitted = Pipeline(stages=stages).fit(fit_df)
    new = spark.createDataFrame([(1, "never_seen"), (2, "x")], ["id", "c"])
    out = {r["id"]: r for r in fitted.transform(new).collect()}  # must not throw
    # unseen row hits the __infrequent__ index, distinct from both fit cats
    assert out[1]["c__idx"] not in (out[2]["c__idx"],)
    n_idx = fit_df.select("c").distinct().count() + 1  # x, y, __infrequent__
    assert 0 <= out[1]["c__idx"] < n_idx


def test_ohe_drop_first_parity(spark):
    # categories a<b<c: sklearn drop='first' drops 'a'. With alphabetDesc
    # indexing, 'a' has the max index, which dropLast removes.
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "c"])
    stages = FP.build_preprocessing_stages(
        numeric_cols=[], categorical_cols=["c"], min_category_frequency=0.0,
        variance_threshold=0.0,
    )
    from pyspark.ml import Pipeline

    fitted = Pipeline(stages=stages).fit(df)
    out = fitted.transform(df)
    vecs = {r["c"]: list(r["__features_raw"].toArray()) for r in out.select("c", "__features_raw").collect()}
    assert vecs["a"][:2] == [0.0, 0.0]  # 'a' is the dropped category


def test_indexer_labels_are_per_column_when_level_counts_differ(spark):
    """Two categorical columns with 2 and 3 levels: each column keeps its
    own label list. Padded to the longest list, the 2-level column got a
    null label and the OneHotEncoder fit threw NullPointerException."""
    from pyspark.ml import Pipeline

    df = spark.createDataFrame(
        [(i, ["1-URGENT", "2-HIGH"][i % 2], ["AUTO", "BUILD", "HOUSE"][i % 3])
         for i in range(120)],
        ["id", "prio", "seg"],
    )
    stages = FP.build_preprocessing_stages(
        numeric_cols=[], categorical_cols=["prio", "seg"], variance_threshold=0.0
    )
    fitted = Pipeline(stages=stages).fit(df)
    indexer = next(
        s for s in fitted.stages if s.__class__.__name__ == "StringIndexerModel"
    )
    assert indexer.labelsArray == [
        ["__infrequent__", "2-HIGH", "1-URGENT"],
        ["__infrequent__", "HOUSE", "BUILD", "AUTO"],
    ]
    assert fitted.transform(df).count() == 120


def test_full_pipeline_and_evaluation(spark, frame):
    m = FP.fit_label_indexer(frame, "label_str")
    labeled = m.transform(frame).withColumnRenamed("label", "label_idx") \
        .withColumn("label", F.col("label_idx"))
    stages = FP.build_preprocessing_stages(
        numeric_cols=["num_a"], categorical_cols=["cat_b"], variance_threshold=0.0
    )
    pipe = FP.build_full_pipeline(stages, MZ.logistic_regression())
    fitted = pipe.fit(labeled)
    metrics = evaluate_binary(fitted.transform(labeled))
    assert metrics["roc_auc"] > 0.9  # separable by construction
    assert 0 <= metrics["ece"] <= 1


def test_feature_importances_name_every_feature(spark):
    """M10 + F7 names on tools/run_pipeline.py's stage list: one
    recovered name per model input, categorical names carry their OHE
    level, LR importances are |coefficients| and GBT importances sum
    to 1."""
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
    for clf in (
        MZ.logistic_regression(max_iter=20),
        MZ.gradient_boosting(n_estimators=5, max_depth=3),
    ):
        fitted = FP.build_full_pipeline(stages, clf).fit(df)
        names = FP.recover_feature_names(fitted, df)
        model = fitted.stages[-1]
        assert len(names) == model.numFeatures
        assert "c_mktsegment__ohe_BUILDING" in names
        assert names[0] == "c_acctbal"
        imp = MZ.feature_importances(fitted, names)
        assert [n for n, _ in imp] == names
        vals = [v for _, v in imp]
        if hasattr(model, "coefficients"):
            assert vals == [abs(c) for c in model.coefficients.toArray()]
        else:
            assert sum(vals) == pytest.approx(1.0)


def test_scale_pos_weight(spark):
    df = spark.createDataFrame([(0,)] * 30 + [(1,)] * 10, ["label"])
    assert MZ.scale_pos_weight(df, "label") == pytest.approx(3.0)


def test_tuner_search_and_best(spark):
    space = {"C": ("float_log", 0.01, 10.0), "l1_ratio": ("float", 0.0, 1.0),
             "kind": ("categorical", ["a", "b"]), "n": ("int", 1, 5)}
    study = tuner.tune(lambda p: p["C"], space, n_trials=10, seed=1)
    assert len(study.trials) == 10
    assert study.best_trial.value == max(t.value for t in study.trials)
    rows = study.to_rows()
    assert "param_C" in rows[0]


def test_tuner_failure_isolation(spark):
    def objective(p):
        if p["n"] % 2 == 0:
            raise RuntimeError("boom")
        return float(p["n"])

    study = tuner.tune(objective, {"n": ("int", 1, 10)}, n_trials=8, seed=3)
    states = {t.state for t in study.trials}
    assert "complete" in states  # odd draws succeeded
    assert all(t.state in ("complete", "failed") for t in study.trials)
    assert study.best_trial.value % 2 == 1


def test_tuner_deterministic(spark):
    space = {"x": ("float", 0, 1)}
    a = tuner.tune(lambda p: p["x"], space, n_trials=5, seed=9)
    b = tuner.tune(lambda p: p["x"], space, n_trials=5, seed=9)
    assert [t.params for t in a.trials] == [t.params for t in b.trials]


def test_tpe_beats_random_on_seeded_objective(spark):
    """H3 'done' criterion (VERDICT r1 #4): within 30 trials the adaptive
    sampler must find a better optimum than pure random search on a smooth
    2-D objective (negative quadratic, max 0 at (0.7, 0.3))."""

    def objective(p):
        return -((p["x"] - 0.7) ** 2) - (p["y"] - 0.3) ** 2

    space = {"x": ("float", 0.0, 1.0), "y": ("float", 0.0, 1.0)}
    seeds = [0, 1, 2]
    tpe_best = [
        tuner.tune(objective, space, n_trials=30, seed=s, sampler="tpe",
                   n_startup_trials=8).best_trial.value
        for s in seeds
    ]
    rnd_best = [
        tuner.tune(objective, space, n_trials=30, seed=s).best_trial.value
        for s in seeds
    ]
    assert sum(tpe_best) > sum(rnd_best), (tpe_best, rnd_best)
    assert max(tpe_best) > -0.01  # actually converges near the optimum


def test_tpe_deterministic_and_respects_bounds(spark):
    space = {
        "c": ("float_log", 1e-3, 10.0),
        "n": ("int", 2, 7),
        "k": ("categorical", ["p", "q", "r"]),
    }
    obj = lambda p: -abs(p["c"] - 1.0) + p["n"]  # noqa: E731
    a = tuner.tune(obj, space, n_trials=20, seed=5, sampler="tpe", n_startup_trials=5)
    b = tuner.tune(obj, space, n_trials=20, seed=5, sampler="tpe", n_startup_trials=5)
    assert [t.params for t in a.trials] == [t.params for t in b.trials]
    for t in a.trials:
        assert 1e-3 <= t.params["c"] <= 10.0
        assert 2 <= t.params["n"] <= 7 and isinstance(t.params["n"], int)
        assert t.params["k"] in ("p", "q", "r")


def test_tuner_parallel_fair_pools(spark):
    """H4: parallel trials run under per-THREAD FAIR scheduler pools
    (ADVICE r2: Spark local properties are thread-local, so a task-index
    key could hand two concurrent trials the same pool)."""
    import threading

    seen = []  # (pool name, thread id) per trial

    def objective(p):
        seen.append(
            (
                spark.sparkContext.getLocalProperty("spark.scheduler.pool"),
                threading.get_ident(),
            )
        )
        # a real (tiny) Spark job inside the pool
        return float(spark.range(100).count()) + p["x"]

    study = tuner.tune(
        objective, {"x": ("float", 0, 1)}, n_trials=6, parallel_jobs=3,
        seed=2, spark=spark,
    )
    assert all(t.state == "complete" for t in study.trials)
    assert all(pool == f"tuner-pool-{tid}" for pool, tid in seen)
    assert len({tid for _, tid in seen}) > 1  # genuinely spread over threads
    # pool property cleared after the run on every worker thread
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") is None


def test_isotonic_calibration_prefit(spark):
    # miscalibrated scores: true P(y=1) = 1 for s>0.5, 0 below
    rows = [(0.6 + i / 100, 1.0) for i in range(40)] + [(0.1 + i / 100, 0.0) for i in range(40)]
    df = spark.createDataFrame(rows, ["s", "y"])
    cal = C.IsotonicCalibrator().fit(df, "s", "y")
    out = cal.transform(df, "s").collect()
    hi = [r["calibrated_proba"] for r in out if r["s"] > 0.55]
    lo = [r["calibrated_proba"] for r in out if r["s"] < 0.45]
    assert min(hi) >= max(lo)  # monotone and separating


def test_platt_calibration(spark):
    rows = [(0.9, 1.0)] * 20 + [(0.6, 1.0)] * 10 + [(0.4, 0.0)] * 10 + [(0.1, 0.0)] * 20
    df = spark.createDataFrame(rows, ["s", "y"])
    cal = C.PlattCalibrator().fit(df, "s", "y")
    out = {r["s"]: r["calibrated_proba"] for r in cal.transform(df.distinct(), "s").collect()}
    assert out[0.9] > out[0.1]


def test_calibrate_prefit_dispatch(spark):
    small = spark.createDataFrame([(0.5, 1.0)] * 10, ["s", "y"])
    assert isinstance(C.calibrate_prefit(small, "s", "y"), C.PlattCalibrator)


def test_sidecar_roundtrip(tmp_path):
    p = str(tmp_path / "meta.json")
    C.write_serving_sidecar(p, 0.42, 1, extra={"note": "x"})
    meta = C.read_serving_sidecar(p)
    assert meta["decision_threshold"] == 0.42
    assert meta["encoded_pos_class_label"] == 1


def test_sidecar_missing_falls_back_to_defaults(tmp_path):
    """Reference parity (test_load_serving_metadata_defaults,
    helpers.py:35-53): a missing sidecar yields the serving defaults
    instead of failing; a key-incomplete sidecar overlays defaults."""
    meta = C.read_serving_sidecar(str(tmp_path / "nope.json"))
    assert meta["decision_threshold"] == C.DEFAULT_DECISION_THRESHOLD == 0.5
    assert meta["encoded_pos_class_label"] == C.DEFAULT_ENCODED_POS_CLASS_LABEL == 1
    p = str(tmp_path / "partial.json")
    import json as _json

    with open(p, "w") as f:
        _json.dump({"decision_threshold": 0.7}, f)
    meta = C.read_serving_sidecar(p)
    assert meta["decision_threshold"] == 0.7
    assert meta["encoded_pos_class_label"] == 1


def test_select_champion_and_gate():
    cands = {"a": {"fbeta": 0.4}, "b": {"fbeta": 0.6}}
    assert select_champion(cands) == "b"
    deployment_gate(cands["b"])  # passes
    with pytest.raises(ValueError, match="deployment gate"):
        deployment_gate({"fbeta": 0.1})


def test_binary_metrics_has_no_auc_without_probabilities(spark):
    """Reference parity (test_evaluator_auc.py): AUC is probability-based
    — the label/prediction-only metric pass must not claim a roc_auc
    (the repo splits it structurally: binary_metrics is confusion-derived
    only; evaluate_binary adds roc_auc from the probability column)."""
    from end_to_end_ml_spark.functions import metrics as M

    df = spark.createDataFrame([(1, 1), (0, 1), (0, 0)], ["y", "p"])
    cols = set(M.binary_metrics(df, "y", "p").columns)
    assert "roc_auc" not in cols
    assert {"accuracy", "precision", "recall", "f1"} <= cols


# ---------------------------------------------------------------------------
# M3/M4 gradient-boosting param parity (VERDICT r1 #10)
# ---------------------------------------------------------------------------


def _has(mod):
    import importlib

    try:
        importlib.import_module(mod)
        return True
    except ImportError:
        return False


def test_gbt_fallback_param_mapping(spark):
    """With neither xgboost nor synapse installed, the builder must return a
    GBTClassifier with every reference param mapped to its representable
    equivalent."""
    est = MZ.gradient_boosting(
        n_estimators=30, max_depth=7, learning_rate=0.2, subsample=0.8,
        min_child_samples=25, num_leaves=16, scale_pos_weight=3.0,
    )
    if _has("xgboost.spark") or _has("synapse.ml.lightgbm"):
        pytest.skip("real boosting lib present; fallback branch not taken")
    from pyspark.ml.classification import GBTClassifier

    assert isinstance(est, GBTClassifier)
    assert est.getMaxIter() == 30
    assert est.getStepSize() == 0.2
    assert est.getSubsamplingRate() == 0.8
    assert est.getMinInstancesPerNode() == 25
    # num_leaves=16 caps depth at ceil(log2(16))=4 (< requested 7)
    assert est.getMaxDepth() == 4
    assert est.getWeightCol() == "class_weight_spw"


def test_gbt_real_lib_param_mapping(spark):
    """Exercised only when a real boosting lib IS importable (absent in this
    container — then this skips, keeping the suite green either way)."""
    if not (_has("xgboost.spark") or _has("synapse.ml.lightgbm")):
        pytest.skip("no real gradient-boosting lib installed")
    est = MZ.gradient_boosting(
        n_estimators=30, max_depth=7, learning_rate=0.2,
        num_leaves=16, scale_pos_weight=3.0,
    )
    name = type(est).__name__
    assert name in ("SparkXGBClassifier", "LightGBMClassifier")


def test_scale_pos_weight_wiring_trains_and_shifts_recall(spark):
    """A positives-×spw weight column + the weightCol wiring must (a)
    carry the ratio, (b) actually fit, and (c) push the decision boundary
    toward the positive class on imbalanced data."""
    from pyspark.ml.feature import VectorAssembler

    rows = (
        [(float(i % 7) / 7.0, 0) for i in range(180)]
        + [(0.55 + float(i % 5) / 11.0, 1) for i in range(20)]
    )
    df = spark.createDataFrame(rows, ["x", "label"])
    spw = MZ.scale_pos_weight(df, "label")
    assert spw == pytest.approx(9.0)
    weighted = df.withColumn(
        "class_weight_spw",
        F.when(F.col("label") == 1, F.lit(spw)).otherwise(F.lit(1.0)),
    )
    w = {r["label"]: r["class_weight_spw"] for r in weighted.distinct().collect()}
    assert w[1] == pytest.approx(9.0) and w[0] == 1.0

    va = VectorAssembler(inputCols=["x"], outputCol="features")
    fitted_w = MZ.gradient_boosting(
        n_estimators=10, max_depth=3, scale_pos_weight=spw
    ).fit(va.transform(weighted))
    fitted_u = MZ.gradient_boosting(n_estimators=10, max_depth=3).fit(
        va.transform(df)
    )
    scored_w = fitted_w.transform(va.transform(weighted))
    scored_u = fitted_u.transform(va.transform(df))

    def recall(scored):
        r = scored.agg(
            F.sum(((F.col("label") == 1) & (F.col("prediction") == 1.0)).cast("long")).alias("tp"),
            F.sum((F.col("label") == 1).cast("long")).alias("p"),
        ).collect()[0]
        return r["tp"] / r["p"]

    assert recall(scored_w) >= recall(scored_u)
    assert recall(scored_w) > 0.5  # weighting actually recovers positives


def test_unfitted_pipeline_save_load_roundtrip(spark, tmp_path):
    """All custom stages keep state in MLlib Params, so an UNFITTED
    pipeline survives save/load (ADVICE r2: attributes outside Params
    silently vanish on load → no-op stages)."""
    from pyspark.ml import Pipeline

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", None), (None, "y")] * 25,
        ["c1", "c2"],
    )
    stages = [
        FP.CategoricalImputer(inputCols=["c1", "c2"]),
        FP.InfrequentCollapser(inputCols=["c1", "c2"], minFrequency=0.05),
        FP.ParityStringIndexer(inputCols=["c1", "c2"], outputCols=["i1", "i2"]),
    ]
    pipe = Pipeline(stages=stages)
    path = str(tmp_path / "unfitted_pipe")
    pipe.write().overwrite().save(path)
    loaded = Pipeline.load(path)
    got = loaded.fit(df).transform(df)
    want = pipe.fit(df).transform(df)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the loaded stages actually carry their configuration
    lc = loaded.getStages()
    assert lc[0].getOrDefault(lc[0].inputCols) == ["c1", "c2"]
    assert lc[2].getOrDefault(lc[2].outputCols) == ["i1", "i2"]


def test_fitted_collapser_model_save_load(spark, tmp_path):
    df = spark.createDataFrame(
        [("a",)] * 60 + [("b",)] * 39 + [("z",)], ["c1"]
    )
    model = FP.InfrequentCollapser(inputCols=["c1"], minFrequency=0.05).fit(df)
    path = str(tmp_path / "collapser_model")
    model.write().overwrite().save(path)
    loaded = FP.InfrequentCollapserModel.load(path)
    assert loaded.frequent == model.frequent
    out = loaded.transform(spark.createDataFrame([("a",), ("z",), ("unseen",)], ["c1"]))
    vals = [r["c1"] for r in out.collect()]
    assert vals == ["a", FP.INFREQUENT, FP.INFREQUENT]
