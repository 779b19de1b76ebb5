"""Model zoo (reference §2.8 M1-M4, src/training/train.py:431-509).

MLlib-native classifiers; the gradient-boosting slots (reference LightGBM /
XGBoost) map to MLlib GBTClassifier by default, with xgboost.spark /
SynapseML LightGBM used automatically when those packages are present
(import-try gates — they are not in this container).
"""

from __future__ import annotations

from pyspark.ml.classification import (
    GBTClassifier,
    LogisticRegression,
    RandomForestClassifier,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def logistic_regression(features_col="features", label_col="label", weight_col=None,
                        C: float = 1.0, l1_ratio: float = 0.0, max_iter: int = 100):
    """M1: sklearn LogisticRegression(penalty=elasticnet, C) parity:
    regParam = 1/C (per-row-normalized losses differ by n; tuned jointly so
    the search space absorbs it), elasticNetParam = l1_ratio."""
    kw = dict(
        featuresCol=features_col,
        labelCol=label_col,
        regParam=1.0 / C,
        elasticNetParam=l1_ratio,
        maxIter=max_iter,
    )
    if weight_col:
        kw["weightCol"] = weight_col
    return LogisticRegression(**kw)


def random_forest(features_col="features", label_col="label", n_estimators: int = 100,
                  max_depth: int = 5, impurity: str = "gini", subsample: float = 1.0,
                  seed: int = 42):
    """M2: RandomForestClassifier parity (criterion → impurity)."""
    return RandomForestClassifier(
        featuresCol=features_col,
        labelCol=label_col,
        numTrees=n_estimators,
        maxDepth=max_depth,
        impurity=impurity,
        subsamplingRate=subsample,
        seed=seed,
    )


def gradient_boosting(features_col="features", label_col="label", n_estimators: int = 50,
                      max_depth: int = 5, learning_rate: float = 0.1, subsample: float = 1.0,
                      min_child_samples: int | None = None, num_leaves: int | None = None,
                      scale_pos_weight: float | None = None,
                      weight_col: str = "class_weight_spw", seed: int = 42):
    """M3/M4 slot: prefer SparkXGBClassifier / SynapseML LightGBM when
    installed; MLlib GBTClassifier otherwise.

    Param surface follows the reference's LightGBM config
    (training-config.yml:176-181): every knob maps to its native equivalent
    per branch, or the closest representable form on the GBT fallback —
    ``min_child_samples`` → ``minInstancesPerNode``, ``num_leaves`` →
    a ``maxDepth`` cap of ceil(log2(num_leaves)) (a depth-d tree has at
    most 2^d leaves), ``scale_pos_weight`` → ``weightCol``, a caller-built column
    weighting positives ×spw and negatives 1.0 (reference train.py:500
    computes the ratio via :func:`scale_pos_weight`)."""
    try:  # pragma: no cover - not installed in this container
        from xgboost.spark import SparkXGBClassifier

        kw = dict(
            features_col=features_col,
            label_col=label_col,
            n_estimators=n_estimators,
            max_depth=max_depth,
            learning_rate=learning_rate,
            subsample=subsample,
        )
        if scale_pos_weight is not None:
            kw["scale_pos_weight"] = scale_pos_weight
        if num_leaves is not None:
            kw["max_leaves"] = num_leaves
        return SparkXGBClassifier(**kw)
    except ImportError:
        pass
    try:  # pragma: no cover - not installed in this container
        from synapse.ml.lightgbm import LightGBMClassifier

        kw = dict(
            featuresCol=features_col,
            labelCol=label_col,
            numIterations=n_estimators,
            maxDepth=max_depth,
            learningRate=learning_rate,
            baggingFraction=subsample,
        )
        if min_child_samples is not None:
            kw["minDataInLeaf"] = min_child_samples
        if num_leaves is not None:
            kw["numLeaves"] = num_leaves
        if scale_pos_weight is not None:
            kw["weightCol"] = weight_col
        return LightGBMClassifier(**kw)
    except ImportError:
        pass
    if num_leaves is not None:
        max_depth = min(max_depth, max(1, (num_leaves - 1).bit_length()))
    kw = dict(
        featuresCol=features_col,
        labelCol=label_col,
        maxIter=n_estimators,
        maxDepth=max_depth,
        stepSize=learning_rate,
        subsamplingRate=subsample,
        seed=seed,
    )
    if min_child_samples is not None:
        kw["minInstancesPerNode"] = min_child_samples
    if scale_pos_weight is not None:
        kw["weightCol"] = weight_col
    return GBTClassifier(**kw)


def scale_pos_weight(df: DataFrame, label_col: str) -> float:
    """M4 helper (reference train.py:500): n_neg / n_pos."""
    r = df.agg(
        F.sum((F.col(label_col) == 0).cast("long")).alias("neg"),
        F.sum((F.col(label_col) == 1).cast("long")).alias("pos"),
    ).collect()[0]
    return r["neg"] / r["pos"]


MODEL_BUILDERS = {
    "logistic_regression": logistic_regression,
    "random_forest": random_forest,
    "gradient_boosting": gradient_boosting,
}


def feature_importances(model, feature_names: list[str]) -> list[tuple[str, float]]:
    """M10: per-feature importance extraction (reference evaluator.py:109-205)
    — LR |coefficients|, tree/GBT featureImportances; returns [] for models
    exposing neither (the reference skips its voting ensemble the same way).
    Pair with ``recover_feature_names`` (F7) for post-OHE names."""
    stage = getattr(model, "stages", [model])[-1]
    if hasattr(stage, "featureImportances"):
        vals = stage.featureImportances.toArray().tolist()
    elif hasattr(stage, "coefficients"):
        vals = [abs(v) for v in stage.coefficients.toArray().tolist()]
    else:
        return []
    return list(zip(feature_names, vals))
