"""The training frame of the reference's flagship flow (SURVEY §7.1) recast
on the synthetic star schema; tools/run_pipeline.py and the tabular_ml
benchmark run the split → fit → evaluate → serve steps over it.

Task: predict whether an order is high-value (top-quartile totalprice proxy:
o_totalprice above the global mean) from order priority, market segment and
account balance — a deterministic, label-leak-free toy target that exercises
every pipeline stage on real testdata tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table


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
