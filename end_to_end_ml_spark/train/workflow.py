"""Training / evaluation / selection / serving workflow (reference §2.10-2.11:
E1-E6, I1, I3) — the driver-side orchestration around the relational metric
queries and MLlib fits.

Registry: MLflow is used when importable (mlflow.spark); otherwise models
persist via ``PipelineModel.save`` + the JSON serving sidecar (S8), which is
the local-fallback path the reference also ships (helpers.py:170-200).
"""

from __future__ import annotations

import os

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession

from ..functions import metrics as M
from ..features import calibrate as C


def evaluate_binary(
    scored: DataFrame,
    label_col: str = "label",
    pos_index: int = 1,
    threshold: float = 0.5,
    beta: float = 0.5,
) -> dict:
    """E1/E2: full binary evaluation from one scored frame — confusion-derived
    metrics + rank AUC + ECE, all relational (§2.4). Returns a plain dict
    (the reference's [Metric, Score] frame)."""
    with_p = C.positive_probability(scored, pos_index=pos_index)
    pred = M.apply_threshold(with_p, "pos_proba", threshold)
    row = M.binary_metrics(pred, label_col, "prediction", beta=beta).collect()[0]
    auc = M.roc_auc(with_p, label_col, "pos_proba").collect()[0]["roc_auc"]
    ece = M.expected_calibration_error(with_p, label_col, "pos_proba")
    return {
        "accuracy": row["accuracy"],
        "precision": row["precision"],
        "recall": row["recall"],
        "f1": row["f1"],
        "fbeta": row["fbeta"],
        "roc_auc": auc,
        "ece": ece,
    }


def select_champion(candidates: dict[str, dict], comparison_metric: str = "fbeta") -> str:
    """E4: in-process argmax over candidate metric dicts
    (orchestrator.py:575-620)."""
    if not candidates:
        raise ValueError("no candidates to select from")
    return max(candidates.items(), key=lambda kv: kv[1][comparison_metric])[0]


def deployment_gate(metrics: dict, metric: str = "fbeta", threshold: float = 0.3) -> None:
    """E5: champion must clear the quality bar (orchestrator.py:753-791,
    deployment_score_thresh training-config.yml:93)."""
    if metrics[metric] < threshold:
        raise ValueError(
            f"deployment gate failed: {metric}={metrics[metric]:.4f} < {threshold}"
        )


def register_champion(
    model: PipelineModel,
    path: str,
    decision_threshold: float,
    pos_index: int,
    metrics: dict | None = None,
) -> None:
    """E6: persist champion + serving sidecar. MLflow registry when
    available; the local PipelineModel.save path always runs (the
    reference's fallback chain, helpers.py:85-200)."""
    model.write().overwrite().save(path)
    C.write_serving_sidecar(
        os.path.join(path, "serving_metadata.json"),
        decision_threshold,
        pos_index,
        extra={"metrics": metrics or {}},
    )
    try:  # pragma: no cover - mlflow not in this container
        import mlflow
        import mlflow.spark

        with mlflow.start_run():
            mlflow.spark.log_model(model, "model", registered_model_name="champion_model")
            if metrics:
                mlflow.log_metrics({k: float(v) for k, v in metrics.items()})
    except ImportError:
        pass


def load_model_with_fallback(spark: SparkSession, path: str) -> PipelineModel:
    """I3: registry → local fallback chain; here MLflow registry first when
    importable, else the local path."""
    try:  # pragma: no cover
        import mlflow.spark

        return mlflow.spark.load_model("models:/champion_model/latest")
    except Exception:
        return PipelineModel.load(path)


def batch_score(
    spark: SparkSession,
    model: PipelineModel,
    input_path: str,
    output_path: str | None = None,
    decision_threshold: float = 0.5,
    pos_index: int = 1,
) -> DataFrame:
    """I1: read → transform → append (predicted_probability, prediction) →
    optionally write. One lazy plan; at scale this is a single pass with the
    model's stages fused into the scan."""
    df = spark.read.parquet(input_path)
    scored = model.transform(df)
    out = M.apply_threshold(
        C.positive_probability(
            scored, pos_index=pos_index, out_col="predicted_probability"
        ),
        "predicted_probability",
        decision_threshold,
    )
    result = out.select(*df.columns, "predicted_probability", "prediction")
    if output_path:
        result.write.mode("overwrite").parquet(output_path)
    return result
