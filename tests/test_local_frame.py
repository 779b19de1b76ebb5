"""sources/io.local_frame: driver-built rows become an Arrow-backed
LocalRelation with the exact schema and values the caller passed."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from end_to_end_ml_spark.sources.io import local_frame

# one field per type the package's call sites pass: carve offsets/cuts
# (class label double or string, longs), d16 vocab (string, int), the
# token-budget frame (boolean), serving requests (double, string, and the
# non-nullable request index)
SCHEMA = StructType(
    [
        StructField("label_d", DoubleType()),
        StructField("label_s", StringType()),
        StructField("tid", IntegerType()),
        StructField("n", LongType()),
        StructField("x", DoubleType()),
        StructField("frozen", BooleanType()),
        StructField("__row_id", LongType(), False),
    ]
)
ROWS = [
    (1.0, "a", 7, 2**40, 0.25, True, 0),
    (None, None, None, None, None, None, 1),
    (0.0, "", -1, -(2**40), -1e300, False, 2),
]
DDL = (
    "label_d double, label_s string, tid int, n long, x double, "
    "frozen boolean, __row_id long not null"
)


@pytest.mark.parametrize("schema", [SCHEMA, DDL], ids=["struct", "ddl"])
@pytest.mark.parametrize("as_dict", [False, True], ids=["tuples", "dicts"])
def test_round_trips_values_types_and_nullability(spark, schema, as_dict):
    rows = [dict(zip(SCHEMA.names, r)) for r in ROWS] if as_dict else ROWS
    df = local_frame(spark, rows, schema)
    assert df.schema == SCHEMA
    assert [tuple(r) for r in df.collect()] == ROWS


def test_zero_rows_keep_the_schema(spark):
    df = local_frame(spark, [], SCHEMA)
    assert df.schema == SCHEMA
    assert df.collect() == []


def test_plan_is_a_local_relation(spark):
    df = local_frame(spark, ROWS, SCHEMA)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan


def test_rows_are_checked_against_the_schema(spark):
    """Arrow would coerce an int into a double column; the schema check
    createDataFrame applies by default rejects it, and so does this."""
    with pytest.raises(TypeError):
        local_frame(spark, [(1,)], "x double")
    with pytest.raises(TypeError):
        local_frame(spark, [("1.5",)], "x double")
    with pytest.raises(ValueError):
        local_frame(spark, [(None,)], "x double not null")
