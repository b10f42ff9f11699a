"""JSON-object ingestion parity (plans/json.py vs object.rs:201-316)."""

import pytest
from pyspark.sql import functions as F

from schema_validator_spark import schema
from schema_validator_spark.plans.json import validate_json_objects


def _run(spark, obj, docs):
    df = spark.createDataFrame([(i, j) for i, j in enumerate(docs)], "id long, j string")
    out = validate_json_objects(df, "j", obj)
    viol = F.transform(
        "violations", lambda x: F.concat_ws("|", x["field"], x["code"], x["message"])
    )
    rows = out.withColumn("v", viol).orderBy("id").collect()
    return [r.asDict() for r in rows]


def test_happy_path_and_number_widening(spark):
    s = schema()
    obj = (
        s.object()
        .field("name", s.string().min_length(2))
        .field("age", schema().coerce().number().optional())
    )
    r = _run(spark, obj, ['{"name":"John","age":30,"active":true}'])[0]
    assert r["valid"] and r["name"] == "John"
    assert r["age"] == 30.0  # JSON int widened to f64 (object.rs:210-213)


def test_dynamic_type_errors(spark):
    s = schema()
    obj = s.object().field("name", s.string())
    cases = _run(spark, obj, ['{"name":123}', '{"name":true}', '{"name":null}'])
    assert cases[0]["v"] == ["name|TYPE_ERROR|Type error: expected String, got Float"]
    assert cases[1]["v"] == ["name|TYPE_ERROR|Type error: expected String, got Boolean"]
    assert cases[2]["v"] == ["name|TYPE_ERROR|Type error: expected String, got Unknown"]


def test_nested_array_or_object_aborts_row(spark):
    """ANY field holding an array/object aborts the row — even a field the
    schema doesn't declare (object.rs:221-229 early return)."""
    s = schema()
    obj = s.object().field("name", s.string().min_length(99))
    cases = _run(spark, obj, [
        '{"name":[1,2]}',
        '{"name":"ok","extra":{"a":1}}',
    ])
    msg = "j|TYPE_ERROR|Type error: expected String, Number, Boolean or Null, got Array or Object"
    assert cases[0]["v"] == [msg]
    assert cases[1]["v"] == [msg]  # no min_length error reported: early return


def test_non_object_and_unparseable(spark):
    s = schema()
    obj = s.object().field("name", s.string())
    cases = _run(spark, obj, ["[1,2]", '"scalar"', "not json"])
    assert cases[0]["v"] == ["j|TYPE_ERROR|Type error: expected Object, got Non-object JSON value"]
    assert cases[1]["v"] == ["j|TYPE_ERROR|Type error: expected Object, got Non-object JSON value"]
    assert cases[2]["v"] == ["j|TYPE_ERROR|Type error: expected Object or JSON object, got Unknown"]


def test_missing_vs_null(spark):
    """Absent key → MISSING_FIELD even when optional; explicit null passes an
    optional field as None (object.rs:297-305 vs optional.rs:69-71)."""
    s = schema()
    obj = s.object().field("age", s.number().optional())
    cases = _run(spark, obj, ["{}", '{"age":null}', '{"age":2.5}'])
    assert cases[0]["v"] == ["age|MISSING_FIELD|Missing required field: 'age'"]
    assert cases[1]["valid"] and cases[1]["age"] is None
    assert cases[2]["valid"] and cases[2]["age"] == 2.5


def test_coercions(spark):
    c = schema().coerce()
    obj = (
        schema().object()
        .field("n", c.number())
        .field("s", c.string())
        .field("b", c.boolean())
    )
    cases = _run(spark, obj, [
        '{"n":"42.5","s":7,"b":"false"}',
        '{"n":true,"s":2.25,"b":0}',
        '{"n":"abc","s":true,"b":null}',
    ])
    r0 = cases[0]
    assert r0["n"] == 42.5 and r0["s"] == "7" and r0["b"] is True  # "false" truthy!
    r1 = cases[1]
    assert r1["n"] == 1.0 and r1["s"] == "2" and r1["b"] is False
    r2 = cases[2]
    assert r2["v"] == ["n|COERCION_ERROR|Coercion error: cannot convert String to Number"]
    assert r2["s"] == "true" and r2["b"] is False  # Option-None → false


def test_literals(spark):
    s = schema()
    obj = s.object().field("kind", s.literal("tuna"))
    cases = _run(spark, obj, ['{"kind":"tuna"}', '{"kind":"salmon"}', '{"kind":5}'])
    assert cases[0]["valid"]
    assert cases[1]["v"] == ['kind|LITERAL_ERROR|Literal error: expected "tuna", got "salmon"']
    assert cases[2]["v"] == ['kind|LITERAL_ERROR|Literal error: expected "tuna", got Any { .. }']


def test_int_literal_never_matches_json_number(spark):
    """JSON numbers are f64; an i64 literal downcast always fails
    (object.rs:210-213 + literal.rs:56-67)."""
    s = schema()
    obj = s.object().field("n", s.literal(5))
    cases = _run(spark, obj, ['{"n":5}'])
    assert cases[0]["v"] == ["n|LITERAL_ERROR|Literal error: expected 5, got Any { .. }"]


def test_error_accumulation_across_fields(spark):
    s = schema()
    obj = (
        s.object()
        .field("name", s.string().min_length(5))
        .field("email", s.string().email())
        .field("age", schema().coerce().number())
    )
    r = _run(spark, obj, ['{"name":"Jo","email":"nope","age":"x"}'])[0]
    assert [v.split("|")[1] for v in r["v"]] == [
        "MIN_LENGTH_ERROR", "INVALID_EMAIL", "COERCION_ERROR",
    ]


def test_json_row_level_checks(spark):
    from schema_validator_spark import ValidationPlan, schema
    from schema_validator_spark.plans.json import validate_json_objects

    rows = [
        (0, '{"a": 3, "b": 5}'),   # pass (a < b)
        (1, '{"a": 9, "b": 5}'),   # check fails
        (2, '{"a": null, "b": 5}'),  # explicit null a -> check NULL -> passes
    ]
    df = spark.createDataFrame(rows, "id long, js string")
    s = schema()
    obj = (
        s.object()
        .field("a", s.number().optional())
        .field("b", s.number())
        .check("a_lt_b", F.col("a") < F.col("b"))
    )
    out = validate_json_objects(df, "js", obj)
    got = {r["id"]: (r["valid"], [v["field"] for v in r["violations"]]) for r in out.collect()}
    assert got[0] == (True, [])
    assert got[1] == (False, ["a_lt_b"])
    assert got[2] == (True, [])  # NULL comparison = pass


def test_transform_runs_once_per_value_per_write(spark, tmp_path):
    """TransformedSchema::validate runs the closure once per value
    (string.rs:251-283): writing the valid rows and then the violations
    calls it once per JSON string value in each write, although both writes
    filter on `valid`."""
    from schema_validator_spark import ValidationPlan

    calls = spark.sparkContext.accumulator(0)

    def capitalize(v):
        calls.add(1)
        return v.capitalize()

    s = schema()
    obj = (
        s.object()
        .field("user", s.string().transform(capitalize).pattern(r"^[A-Z][a-z]+$"))
        .field("age", schema().coerce().number())
    )
    docs = [
        '{"user":"bob","age":1}',
        '{"user":"al1","age":2}',
        '{"user":"eve","age":"x"}',
        '{"user":7,"age":3}',
        "not json",
    ]
    strings = 3
    df = spark.createDataFrame(list(enumerate(docs)), "id long, j string")
    out = validate_json_objects(df, "j", obj)
    out.where(F.col("valid")).write.parquet(str(tmp_path / "valid"))
    assert calls.value == strings
    ValidationPlan(obj).violations(out, ["id"]).write.parquet(str(tmp_path / "violations"))
    assert calls.value == 2 * strings
    valid = spark.read.parquet(str(tmp_path / "valid")).collect()
    assert [(r["id"], r["user"]) for r in valid] == [(0, "Bob")]
    got = spark.read.parquet(str(tmp_path / "violations")).orderBy("id").collect()
    assert [(r["id"], r["code"]) for r in got] == [
        (1, "PATTERN_ERROR"), (2, "COERCION_ERROR"), (3, "TYPE_ERROR"), (4, "TYPE_ERROR"),
    ]
