"""Real-time serving surface (reference I2: src/inference/api_server.py).

The core is HTTP-framework-independent: ``predict_records`` is the exact
POST /predict body — validate (P12) → DataFrame from JSON records (S5) →
transform → sidecar threshold (M7/M9) — so it is unit-testable in-process.
``create_app`` wraps it in FastAPI when that is installed (not in this
container); the reference's HTTP semantics (422 on schema mismatch) map to
``ValueError`` here.

Serving scale note: single-record latency through a SparkSession is driver
-bound; the reference's production path exports the PipelineModel via
mlflow.pyfunc and serves outside the cluster (orchestrator registration in
train/workflow.py). This module is the parity surface + the batch-ish
micro-serving path.
"""

from __future__ import annotations

from pyspark.ml import PipelineModel
from pyspark.sql import SparkSession

from .features.calibrate import positive_probability
from .functions.metrics import apply_threshold
from .operators.prep import validate_request_schema
from .sources.io import ingest_json_records


def predict_records(
    spark: SparkSession,
    model: PipelineModel,
    records: list[dict],
    schema,
    expected_cols: list[str],
    decision_threshold: float = 0.5,
    pos_index: int = 1,
    pk_col: str | None = None,
) -> list[dict]:
    """I2 core: validate every record against the model's expected feature
    names (api_server.py:96-133 → HTTP 422 ≙ ValueError), build a DataFrame,
    score, and return per-record (predicted_probability, prediction).

    Results come back in REQUEST order: Spark does not guarantee row order
    through ``model.transform``+``collect``, so an explicit ``__row_id``
    from ``enumerate(records)`` rides along and the collected rows sort on
    it on the driver (they are bounded by the request, so a Spark
    ``orderBy`` would only add a sampling job and a shuffle) — callers can
    zip results with their inputs even with ``pk_col=None``."""
    from pyspark.sql.types import LongType, StructField, StructType

    for i, rec in enumerate(records):
        problems = validate_request_schema(expected_cols, rec, pk_col=pk_col)
        if problems["missing"] or problems["unexpected"]:
            raise ValueError(f"record {i}: {problems}")
    tagged = [{**rec, "__row_id": i} for i, rec in enumerate(records)]
    if isinstance(schema, StructType):
        schema = StructType(
            list(schema.fields) + [StructField("__row_id", LongType(), False)]
        )
    else:  # DDL string
        schema = f"{schema}, __row_id long"
    df = ingest_json_records(spark, tagged, schema)
    scored = model.transform(df)
    out = apply_threshold(
        positive_probability(
            scored, pos_index=pos_index, out_col="predicted_probability"
        ),
        "predicted_probability",
        decision_threshold,
    )
    cols = ([pk_col] if pk_col else []) + ["predicted_probability", "prediction"]
    rows = sorted(out.select("__row_id", *cols).collect(), key=lambda r: r[0])
    return [{c: r[c] for c in cols} for r in rows]


def create_app(
    spark: SparkSession,
    model: PipelineModel,
    schema,
    expected_cols: list[str],
    decision_threshold: float = 0.5,
    pos_index: int = 1,
):  # pragma: no cover - fastapi not installed in the build container
    """FastAPI app exposing POST /predict (single record or list), matching
    the reference's api_server.py surface."""
    try:
        from fastapi import FastAPI, HTTPException
    except ImportError as e:
        raise ImportError(
            "fastapi is not installed; use predict_records() directly or "
            "export the model via mlflow.pyfunc for production serving"
        ) from e

    app = FastAPI()

    @app.post("/predict")
    def predict(payload: dict | list[dict]):
        records = payload if isinstance(payload, list) else [payload]
        try:
            return predict_records(
                spark,
                model,
                records,
                schema,
                expected_cols,
                decision_threshold,
                pos_index,
            )
        except ValueError as err:
            raise HTTPException(status_code=422, detail=str(err))

    return app
