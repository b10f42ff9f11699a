"""`valid` (pure-boolean pass conjunction) must equal size(violations)==0 for
every row — the two are computed through different expression paths
(plans/compile.py CompiledField.passes vs the violation when-chains)."""

from pyspark.sql import functions as F

from schema_validator_spark import ValidationPlan, schema


def _assert_equiv(validated):
    mismatch = validated.where(
        F.col("valid") != (F.size("violations") == 0)
    ).count()
    assert mismatch == 0


def test_valid_matches_violations_documents(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = schema()
    plan = ValidationPlan(
        s.object()
        .field("text", s.string().min_length(100))
        .field("lang", s.string().pattern(r"^[a-z]{2}$").optional())
        .field("source", s.string().username())
        .field("n_chars", schema().coerce().string())
    )
    _assert_equiv(plan.apply(df))


def test_valid_matches_violations_with_nulls_and_coercion(spark):
    rows = [
        (0, "ok", 5.0, None),
        (1, None, 0.0, "x"),
        (2, "toolongvalue", None, "yy"),
        (3, "no", 2.5, None),
    ]
    df = spark.createDataFrame(rows, "id long, a string, b double, c string")
    s = schema()
    plan = ValidationPlan(
        s.object()
        .field("a", s.string().max_length(3))
        .field("b", schema().coerce().boolean())
        .field("c", s.string().min_length(2).optional())
    )
    out = plan.apply(df)
    _assert_equiv(out)
    got = {r["id"]: r["valid"] for r in out.collect()}
    assert got == {0: True, 1: False, 2: False, 3: True}


def test_valid_matches_violations_json(spark):
    """The JSON path builds `valid` from the same pass flags, ANDed with its
    row-level guards: every row kind of test_json.py, one row each."""
    from schema_validator_spark import validate_json_objects

    ok = '"name":"Al","age":1,"flag":true,"kind":"tuna","a":1,"b":2'
    docs = {
        "unparseable": "not json",
        "non_object": "[1,2]",
        "nested": '{' + ok + ',"extra":{"x":1}}',
        "absent_key": '{"age":1,"flag":true,"kind":"tuna","a":1,"b":2}',
        "null_required": '{' + ok.replace('"Al"', "null") + '}',
        "null_optional": '{' + ok.replace('"age":1', '"age":null') + '}',
        "coerced_bool_null": '{' + ok.replace('"flag":true', '"flag":null') + '}',
        "literal_mismatch": '{' + ok.replace('"tuna"', '"salmon"') + '}',
        "failing_check": '{' + ok.replace('"a":1', '"a":9') + '}',
        "ok": '{' + ok + '}',
    }
    s, c = schema(), schema().coerce()
    obj = (
        s.object()
        .field("name", s.string().min_length(2))
        .field("age", s.number().optional())
        .field("flag", c.boolean())
        .field("kind", s.literal("tuna"))
        .field("a", s.number().optional())
        .field("b", s.number())
        .check("a_lt_b", F.col("a") < F.col("b"))
    )
    df = spark.createDataFrame(list(docs.items()), "id string, j string")
    out = validate_json_objects(df, "j", obj)
    _assert_equiv(out)
    got = {r["id"]: r["valid"] for r in out.collect()}
    passing = {"null_optional", "coerced_bool_null", "ok"}
    assert got == {k: k in passing for k in docs}
