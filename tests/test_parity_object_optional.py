"""Parity ports of reference tests/object.rs, tests/optional.rs, tests/mapping.rs
— re-expressed over DataFrames (rows = the reference's objects)."""

from __future__ import annotations

from pyspark.sql import types as T

from schema_validator_spark import ValidationPlan, schema

from helpers import assert_err, assert_ok, run_cases, run_one

USER_DDL = "name string, email string, age double"


def user_schema():
    s = schema()
    return (
        s.object()
        .field("name", s.string().min_length(2))
        .field("email", s.string().email())
        .field("age", s.number().optional())
    )


def apply_rows(spark, obj, rows, ddl=USER_DDL):
    plan = ValidationPlan(obj)
    df = spark.createDataFrame(rows, ddl)
    out = plan.apply(df).withColumn("_oe", plan.object_error())
    return out.collect(), plan


def test_object_validation(spark):
    # tests/object.rs:14-56
    rows, _ = apply_rows(
        spark,
        user_schema(),
        [
            ("John", "john@example.com", 30.0),
            ("J", "john@example.com", 30.0),
            ("John", "not-an-email", 30.0),
        ],
    )
    ok, short_name, bad_email = rows
    assert ok["valid"] and ok["violations"] == []
    assert ok["name"] == "John" and ok["age"] == 30.0

    assert not short_name["valid"]
    oe = short_name["_oe"]
    assert oe["code"] == "OBJECT_ERROR"
    assert "name" in oe["message"] and "MIN_LENGTH_ERROR" in oe["message"]

    oe = bad_email["_oe"]
    assert oe["code"] == "OBJECT_ERROR"
    assert "email" in oe["message"]


def test_object_custom_errors(spark):
    # tests/object.rs:59-89
    s = schema()
    obj = (
        s.object()
        .field(
            "name",
            s.string()
            .min_length(2)
            .set_message("INVALID_NAME", "Name must be at least 2 characters"),
        )
        .field(
            "email",
            s.string().email().set_message("INVALID_EMAIL", "Invalid email format"),
        )
        .field("age", s.number().optional())
    )
    rows, _ = apply_rows(
        spark,
        obj,
        [("J", "john@example.com", 30.0), ("John", "not-an-email", 30.0)],
    )
    oe = rows[0]["_oe"]
    assert oe["code"] == "OBJECT_ERROR"
    assert "INVALID_NAME" in oe["message"]
    assert "Name must be at least 2 characters" in oe["message"]
    oe = rows[1]["_oe"]
    assert "INVALID_EMAIL" in oe["message"]
    assert "Invalid email format" in oe["message"]


def test_object_wrong_types_accumulate(spark):
    # tests/object.rs:114-125 — name/email/age all wrong types, ALL reported
    s = schema()
    obj = (
        s.object()
        .field("name", s.string().min_length(2))
        .field("email", s.string().email())
        .field("age", s.number().optional())
    )
    df_ddl = "name bigint, email boolean, age string"
    rows, plan = apply_rows(spark, obj, [(42, True, "not a number")], ddl=df_ddl)
    row = rows[0]
    fields = {v["field"] for v in row["violations"]}
    assert fields == {"name", "email", "age"}
    msg = row["_oe"]["message"]
    assert "name" in msg and "email" in msg and "age" in msg


def test_object_json_coercion(spark):
    # tests/object.rs:128-148 — "30" coerces to 30.0 via coerce().number().optional()
    s = schema()
    obj = (
        s.object()
        .field("name", s.string().min_length(2))
        .field("email", s.string().email())
        .field("age", s.coerce().number().optional())
    )
    rows, _ = apply_rows(
        spark,
        obj,
        [("John", "john@example.com", "30"), ("John", "john@example.com", None)],
        ddl="name string, email string, age string",
    )
    assert rows[0]["valid"] and rows[0]["age"] == 30.0
    assert rows[1]["valid"] and rows[1]["age"] is None


def test_missing_column_is_missing_field(spark):
    # object.rs:297-305 — schema field absent from input
    rows, _ = apply_rows(
        spark,
        user_schema(),
        [("John", "john@example.com")],
        ddl="name string, email string",
    )
    row = rows[0]
    assert not row["valid"]
    v = row["violations"][0]
    assert v["field"] == "age" and v["code"] == "MISSING_FIELD"
    assert v["message"] == "Missing required field: 'age'"


def test_object_level_custom_message(spark):
    # tests/mapping.rs:65-83 — INVALID_POINT on missing field
    s = schema()
    obj = (
        s.object()
        .field("x", s.number())
        .field("y", s.number())
        .set_message("INVALID_POINT", "Invalid point coordinates")
    )
    rows, plan = apply_rows(spark, obj, [(10.0,)], ddl="x double")
    row = rows[0]
    v = row["violations"][0]
    assert v["field"] == "y"
    assert v["code"] == "INVALID_POINT"
    assert v["message"] == "Invalid point coordinates"
    oe = row["_oe"]
    assert oe["code"] == "INVALID_POINT"
    assert oe["message"] == "Invalid point coordinates"


def test_extra_columns_pass_through(spark):
    # object.rs:269 — extra input fields silently ignored
    s = schema()
    obj = s.object().field("name", s.string())
    rows, _ = apply_rows(
        spark, obj, [("John", 99)], ddl="name string, extra bigint"
    )
    assert rows[0]["valid"] and rows[0]["extra"] == 99


def test_result_type(spark):
    # validate_as analog: result_type() mirrors the target struct
    rt = user_schema().result_type()
    assert [f.name for f in rt.fields] == ["name", "email", "age"]
    assert [f.dataType.simpleString() for f in rt.fields] == [
        "string",
        "string",
        "double",
    ]


# -- tests/optional.rs ---------------------------------------------------------

def test_optional_accepts_null_rejects_wrong_type(spark):
    s = schema()
    # optional.rs:10-17
    r = run_cases(spark, s.string().optional(), ["hello", None])
    assert_ok(r[0], "hello")
    assert_ok(r[1], None)
    assert_err(run_one(spark, s.string().optional(), 42), "TYPE_ERROR")
    assert_err(run_one(spark, s.string().optional(), True), "TYPE_ERROR")
    # optional.rs:21-32
    r = run_cases(spark, s.number().optional(), [42.0, None])
    assert_ok(r[0], 42.0)
    assert_ok(r[1], None)
    assert_err(run_one(spark, s.number().optional(), "42"), "TYPE_ERROR")
    # optional.rs:36-47
    r = run_cases(spark, s.boolean().optional(), [True, None])
    assert_ok(r[0], True)
    assert_ok(r[1], None)
    assert_err(run_one(spark, s.boolean().optional(), "true"), "TYPE_ERROR")


def test_optional_with_coercion(spark):
    # optional.rs:51-67
    s = schema()
    assert_ok(run_one(spark, s.coerce().string().optional(), 42), "42")
    assert_ok(
        run_one(spark, s.coerce().string().optional(), None, T.StringType()), None
    )
    assert_ok(run_one(spark, s.coerce().number().optional(), "42"), 42.0)
    assert_ok(
        run_one(spark, s.coerce().number().optional(), None, T.DoubleType()), None
    )
    assert_ok(run_one(spark, s.coerce().boolean().optional(), 1), True)


def test_optional_object_field(spark):
    # optional.rs:76-120
    s = schema()
    obj = (
        s.object()
        .field("name", s.string())
        .field("age", s.number().optional())
        .field("is_active", s.boolean())
    )
    rows, _ = apply_rows(
        spark,
        obj,
        [("John", 30.0, True), ("John", None, True), ("John", None, None)],
        ddl="name string, age double, is_active boolean",
    )
    assert rows[0]["valid"] and rows[0]["age"] == 30.0
    assert rows[1]["valid"] and rows[1]["age"] is None
    # NULL in required is_active → fails
    assert not rows[2]["valid"]
    assert rows[2]["violations"][0]["field"] == "is_active"


def test_optional_with_transform(spark):
    # optional.rs:123-142 — transform over Option, None maps through
    s = schema()
    sch = s.string().optional().transform(
        lambda v: len(v) if v is not None else None, return_type="bigint"
    )
    r = run_cases(spark, sch, ["hello", None])
    assert_ok(r[0], 5)
    assert_ok(r[1], None)

    sch = s.number().optional().transform(
        lambda v: (v > 0.0) if v is not None else None, return_type="boolean"
    )
    r = run_cases(spark, sch, [42.0, -1.0, None])
    assert_ok(r[0], True)
    assert_ok(r[1], False)
    assert_ok(r[2], None)

    # a transform before .optional() and one after: the second maps the
    # first one's output, and None
    sch = s.string().transform(str.strip).optional().transform(
        lambda v: len(v) if v is not None else -1, return_type="bigint"
    )
    r = run_cases(spark, sch, [" ab ", None])
    assert_ok(r[0], 2)
    assert_ok(r[1], -1)


# -- object-level transform (TransformedObjectSchema, object.rs:189-199, 319-332)


def test_object_transform_row_mode(spark):
    # doc example object.rs:176-188: map validated fields to a User struct
    s = schema()
    obj = (
        s.object()
        .field("name", s.string())
        .field("age", s.number())
        .transform(
            lambda fields: {"name": fields["name"], "age": fields["age"]},
            return_type="struct<name:string,age:double>",
            mode="row",
        )
    )
    df = spark.createDataFrame(
        [("John", 30.0), (None, 25.0)], "name string, age double"
    )
    rows = ValidationPlan(obj).validate_transformed(df).collect()
    # failing row (missing name) is dropped — reference returns Err before
    # the transform runs (object.rs:328-330)
    assert len(rows) == 1
    assert rows[0]["transformed"]["name"] == "John"
    assert rows[0]["transformed"]["age"] == 30.0


def test_object_transform_scalar_and_optional_none(spark):
    # optional fields arrive as None in the map (Option semantics)
    s = schema()
    seen = []
    obj = (
        s.object()
        .field("name", s.string())
        .field("age", s.number().optional())
        .transform(
            lambda f: f"{f['name']}:{'?' if f['age'] is None else int(f['age'])}",
            return_type="string",
            mode="row",
        )
    )
    df = spark.createDataFrame(
        [("a", 1.0), ("b", None)], "name string, age double"
    )
    got = {
        r["transformed"]
        for r in ValidationPlan(obj).validate_transformed(df).collect()
    }
    assert got == {"a:1", "b:?"}


def test_object_transform_column_mode(spark):
    # native-expression path: fn(dict[str, Column]) -> Column, zero Python
    from pyspark.sql import functions as F

    s = schema()
    obj = (
        s.object()
        .field("name", s.string().min_length(2))
        .field("age", s.number())
        .transform(
            lambda c: F.concat_ws("|", c["name"], c["age"].cast("bigint")),
            return_type="string",
            mode="column",
        )
    )
    df = spark.createDataFrame(
        [("John", 30.0), ("J", 9.0)], "name string, age double"
    )
    rows = ValidationPlan(obj).validate_transformed(df, keys=["name"]).collect()
    assert len(rows) == 1  # "J" fails min_length → dropped
    assert rows[0]["transformed"] == "John|30"


def test_object_transform_pandas_mode(spark):
    s = schema()
    obj = (
        s.object()
        .field("name", s.string())
        .transform(
            lambda pdf: pdf["name"].str.upper(), return_type="string", mode="pandas"
        )
    )
    df = spark.createDataFrame([("john",), ("amy",)], "name string")
    got = {
        r["transformed"]
        for r in ValidationPlan(obj).validate_transformed(df).collect()
    }
    assert got == {"JOHN", "AMY"}


def test_empty_object_schema_accepts_all(spark):
    # zero-field ObjectSchema validates any row (valid folds from lit(True))
    s = schema()
    rows = ValidationPlan(s.object()).apply(
        spark.createDataFrame([("x",)], "c string")
    ).collect()
    assert rows[0]["valid"] and rows[0]["violations"] == []


def test_error_type_survives_set_message(spark):
    # error.rs:51-66: set_message replaces code+message but the LOGICAL
    # error_type is preserved — callers can still branch on the kind
    s = schema()
    obj = (
        s.object()
        .field("email", s.string().email().set_message("E1", "custom msg"))
        .field("name", s.string().min_length(5).set_message("E2", "too short"))
    )
    df = spark.createDataFrame(
        [("not-an-email", "ab"), (None, "valid-name")], "email string, name string"
    )
    plan = ValidationPlan(obj)
    rows = plan.violations(plan.apply(df), ["email"]).collect()
    by_code = {r["code"]: r["error_type"] for r in rows}
    assert by_code["E1"] == "Pattern"     # custom code, logical kind intact
    assert by_code["E2"] == "MinLength"
    # missing field keeps Missing even though the field schema has set_message
    assert any(
        r["code"] == "MISSING_FIELD" and r["error_type"] == "Missing" for r in rows
    )


def test_violations_sample_bounded_per_code(spark):
    s = schema()
    obj = (
        s.object()
        .field("name", s.string().min_length(100))   # everything fails
        .field("email", s.string().email())          # everything fails
    )
    df = spark.createDataFrame(
        [(i, "x", "nope") for i in range(50)], "id long, name string, email string"
    )
    plan = ValidationPlan(obj)
    rows = plan.violations_sample(plan.apply(df), ["id"], per_code=10).collect()
    by_code = {}
    for r in rows:
        by_code.setdefault(r["code"], []).append(r)
    assert set(by_code) == {"MIN_LENGTH_ERROR", "INVALID_EMAIL"}
    for code, rs in by_code.items():
        assert len(rs) == 10                       # bounded
        assert [r["id"] for r in rs] == list(range(10))  # deterministic order
        assert rs[0]["error_type"] in ("MinLength", "Pattern")
