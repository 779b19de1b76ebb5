"""Probability calibration + decision-threshold operators (reference M6-M8,
S8: src/training/evaluation/champion.py:83-236).

MLlib has no CalibratedClassifierCV; the composition is hand-built with the
reference's semantics: the trained model is PRESERVED (prefit), only the
probability→probability map is fit, on the dedicated calibration split.
Isotonic when the calibration split is large (>1000 rows, champion.py:101),
else Platt (sigmoid).

Both calibrators are relational/MLlib constructs: IsotonicRegression on
(score, label) for isotonic; a single-feature LogisticRegression on the
logit for Platt. Applying them is a transform (join-free, narrow).
"""

from __future__ import annotations

import json
import os

from pyspark.ml.classification import LogisticRegression
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.ml.regression import IsotonicRegression
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def positive_probability(df: DataFrame, probability_col: str = "probability", pos_index: int = 1,
                         out_col: str = "pos_proba") -> DataFrame:
    """M9: extract the positive-class probability by fitted label index."""
    return df.withColumn(out_col, vector_to_array(F.col(probability_col))[pos_index])


class IsotonicCalibrator:
    """M6 (isotonic, prefit): fit a monotone map raw_proba → P(y=1)."""

    def __init__(self):
        self.model = None

    def fit(self, df: DataFrame, score_col: str, label_col: str) -> "IsotonicCalibrator":
        train = df.select(
            F.col(label_col).cast("double").alias("label"),
            array_to_vector(F.array(F.col(score_col).cast("double"))).alias("features"),
        )
        self.model = IsotonicRegression(
            featuresCol="features", labelCol="label", isotonic=True
        ).fit(train)
        return self

    def transform(self, df: DataFrame, score_col: str, out_col: str = "calibrated_proba") -> DataFrame:
        boundaries = [float(b) for b in self.model.boundaries]
        predictions = [float(p) for p in self.model.predictions]
        b_arr = F.array(*[F.lit(b) for b in boundaries])
        p_arr = F.array(*[F.lit(p) for p in predictions])
        s = F.col(score_col).cast("double")
        # piecewise-linear interpolation between fitted boundaries (exactly
        # what IsotonicRegressionModel.predict does, but as a JVM expression —
        # no per-row model invocation, fuses into codegen)
        idx = F.aggregate(
            F.transform(b_arr, lambda b: (b <= s).cast("int")), F.lit(0), lambda acc, x: acc + x
        )
        n = len(boundaries)
        lo = F.greatest(idx - 1, F.lit(0))
        hi = F.least(idx, F.lit(n - 1))
        x_lo, x_hi = F.element_at(b_arr, lo + 1), F.element_at(b_arr, hi + 1)
        y_lo, y_hi = F.element_at(p_arr, lo + 1), F.element_at(p_arr, hi + 1)
        frac = F.when(x_hi == x_lo, F.lit(0.0)).otherwise((s - x_lo) / (x_hi - x_lo))
        interp = y_lo + frac * (y_hi - y_lo)
        clamped = (
            F.when(s <= boundaries[0], F.lit(predictions[0]))
            .when(s >= boundaries[-1], F.lit(predictions[-1]))
            .otherwise(interp)
        )
        return df.withColumn(out_col, clamped)


class PlattCalibrator:
    """M6 (sigmoid/Platt, prefit): single-feature logistic map on the logit."""

    def __init__(self):
        self.model = None

    def fit(self, df: DataFrame, score_col: str, label_col: str) -> "PlattCalibrator":
        eps = 1e-12
        s = F.col(score_col).cast("double")
        logit = F.log((s + eps) / (1 - s + eps))
        train = df.select(
            F.col(label_col).cast("double").alias("label"),
            array_to_vector(F.array(logit)).alias("features"),
        )
        self.model = LogisticRegression(featuresCol="features", labelCol="label").fit(train)
        return self

    def transform(self, df: DataFrame, score_col: str, out_col: str = "calibrated_proba") -> DataFrame:
        a = float(self.model.coefficients[0])
        b = float(self.model.intercept)
        eps = 1e-12
        s = F.col(score_col).cast("double")
        logit = F.log((s + eps) / (1 - s + eps))
        return df.withColumn(out_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-(a * logit + b))))


def calibrate_prefit(
    calib_df: DataFrame, score_col: str, label_col: str, isotonic_min_rows: int = 1000
):
    """M6 dispatch (champion.py:96-106): isotonic if the calibration split is
    big enough, else Platt. Returns the fitted calibrator."""
    n = calib_df.count()
    cal = IsotonicCalibrator() if n > isotonic_min_rows else PlattCalibrator()
    return cal.fit(calib_df, score_col, label_col)


def write_serving_sidecar(path: str, decision_threshold: float, positive_label_index: int,
                          extra: dict | None = None) -> None:
    """S8: serving-metadata JSON next to the model (champion.py:174-202)."""
    payload = {
        "decision_threshold": decision_threshold,
        "encoded_pos_class_label": positive_label_index,
        **(extra or {}),
    }
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f, indent=2)


DEFAULT_DECISION_THRESHOLD = 0.5
DEFAULT_ENCODED_POS_CLASS_LABEL = 1


def read_serving_sidecar(path: str) -> dict:
    """S8 read side (helpers.py:35-53): defaults first, sidecar overlays.
    A missing or key-incomplete sidecar falls back to the reference's
    serving defaults (threshold 0.5, positive label 1) instead of
    failing the serving process — the exact contract its
    test_load_serving_metadata_defaults pins."""
    metadata = {
        "decision_threshold": DEFAULT_DECISION_THRESHOLD,
        "encoded_pos_class_label": DEFAULT_ENCODED_POS_CLASS_LABEL,
    }
    if os.path.exists(path):
        with open(path) as f:
            metadata.update(json.load(f))
    return metadata
