"""The reference's flagship flow (SURVEY §7.1) recast on the synthetic star
schema: scan → clean → stratified split → MLlib preprocessing pipeline fit on
train only → classifier → score validation → relational metrics.

Task: predict whether an order is high-value (top-quartile totalprice proxy:
o_totalprice above the global mean) from order priority, market segment and
account balance — a deterministic, label-leak-free toy target that exercises
every pipeline stage on real testdata tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..features import pipeline as FP
from ..operators import split
from ..sources import load_table
from ..train import models as MZ


def order_training_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join orders to customer dims (broadcast — dim tables are tiny relative
    to facts at any SF) and derive the binary label."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    df = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
        "c_mktsegment",
        "c_acctbal",
    )
    mean_price = df.agg(F.avg("o_totalprice").alias("m"))
    return df.join(F.broadcast(mean_price)).withColumn(
        "label", (F.col("o_totalprice") > F.col("m")).cast("double")
    ).drop("m")


def ml_scores_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only queries() entry: the flagship ML flow end-to-end, returning
    per-order validation scores (model internals aren't SQL-expressible, so
    the driver records the weaker rows-only check)."""
    from pyspark.ml.functions import vector_to_array

    df = order_training_frame(spark, sf_dir)
    train, valid = split.stratified_split(df, "label", "o_orderkey", 0.8)
    stages = FP.build_preprocessing_stages(
        numeric_cols=["c_acctbal"],
        categorical_cols=["o_orderpriority", "c_mktsegment"],
        variance_threshold=0.0,
    )
    pipe = FP.build_full_pipeline(stages, MZ.logistic_regression(max_iter=20))
    fitted = pipe.fit(train)
    return (
        fitted.transform(valid)
        .select(
            "o_orderkey",
            "label",
            vector_to_array(F.col("probability"))[1].alias("pos_proba"),
            F.col("prediction"),
        )
        .orderBy("o_orderkey")
    )
