"""Parity-test helpers: run a scalar schema over literal values the way the
reference's tests call ``schema.validate(&value)``."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from schema_validator_spark.plans.compile import TransformStage, compile_field

_PY2SPARK = {
    str: T.StringType(),
    bool: T.BooleanType(),
    int: T.LongType(),
    float: T.DoubleType(),
}


def run_cases(spark, sch, values, spark_type=None):
    """Validate each value in ``values`` (all same Python type) against
    ``sch``.  Returns [(output_value, violation_row_or_None), ...] in input
    order.  violation_row has .code / .message."""
    if spark_type is None:
        spark_type = _PY2SPARK[type(values[0])]
    df_schema = T.StructType(
        [
            T.StructField("i", T.LongType(), False),
            T.StructField("v", spark_type, True),
        ]
    )
    df = spark.createDataFrame(list(enumerate(values)), schema=df_schema)
    stage = TransformStage(df.columns)
    cf = compile_field(sch, F.col("v"), "v", spark_type, stage)
    rows = (
        stage.apply(df)
        .select("i", cf.value.alias("out"), cf.violation.alias("viol"))
        .orderBy("i")
        .collect()
    )
    return [(r["out"], r["viol"]) for r in rows]


def run_one(spark, sch, value, spark_type=None):
    return run_cases(spark, sch, [value], spark_type)[0]


def assert_ok(result, expected=...):
    out, viol = result
    assert viol is None, f"unexpected violation: {viol}"
    if expected is not ...:
        assert out == expected, f"expected {expected!r}, got {out!r}"


def assert_err(result, code=None, message=None, message_contains=None):
    out, viol = result
    assert viol is not None, f"expected violation, got ok({out!r})"
    if code is not None:
        assert viol["code"] == code, f"code {viol['code']!r} != {code!r}"
    if message is not None:
        assert viol["message"] == message, f"msg {viol['message']!r} != {message!r}"
    if message_contains is not None:
        assert message_contains in viol["message"], viol["message"]
