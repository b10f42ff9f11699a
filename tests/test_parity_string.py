"""Byte-parity port of /root/reference/tests/string.rs (every assertion)."""

from __future__ import annotations

from schema_validator_spark import schema

from helpers import assert_err, assert_ok, run_cases, run_one


def test_string_pattern(spark):
    # tests/string.rs:4-19
    s = schema()
    sch = (
        s.string()
        .pattern(r"^\d{4}-\d{2}-\d{2}$")
        .set_message("INVALID_DATE", "Invalid date format, expected YYYY-MM-DD")
    )
    r = run_cases(spark, sch, ["2024-01-15", "2024/01/15"])
    assert_ok(r[0], "2024-01-15")
    assert_err(r[1], "INVALID_DATE", "Invalid date format, expected YYYY-MM-DD")


def test_email(spark):
    # tests/string.rs:26-36
    s = schema()
    r = run_cases(
        spark,
        s.string().email(),
        ["user@example.com", "test.user+label@example.co.uk", "not-an-email"],
    )
    assert_ok(r[0])
    assert_ok(r[1])
    assert_err(r[2], "INVALID_EMAIL", "Invalid email format")


def test_email_transform_chain(spark):
    # tests/string.rs:29-32 — trim+lowercase before email; output transformed
    s = schema()
    sch = s.string().trim().to_lowercase().email()
    assert_ok(run_one(spark, sch, "User@example.com "), "user@example.com")
    # custom closure variant (string.rs:29-30)
    sch2 = s.string().transform(lambda v: v.strip().lower()).email()
    assert_ok(run_one(spark, sch2, "User@example.com "), "user@example.com")


def test_builtin_patterns(spark):
    # tests/string.rs:38-95
    s = schema()
    cases = [
        ("url", ["https://example.com", "http://sub.example.com/path?query=1"],
         "not-a-url", "INVALID_URL", "Invalid URL format"),
        ("date", ["2024-01-15"], "2024/01/15", "INVALID_DATE",
         "Invalid date format, expected YYYY-MM-DD"),
        ("time", ["13:45:30"], "25:00:00", "INVALID_TIME",
         "Invalid time format, expected HH:MM:SS"),
        ("uuid", ["123e4567-e89b-42d3-a456-556642440000"], "not-a-uuid",
         "INVALID_UUID", "Invalid UUID format"),
        ("ipv4", ["192.168.1.1"], "256.256.256.256", "INVALID_IPV4",
         "Invalid IPv4 address format"),
        ("phone", ["+1234567890", "1234567890"], "not-a-phone",
         "INVALID_PHONE", "Invalid phone number format"),
    ]
    for name, goods, bad, code, message in cases:
        sch = getattr(schema().string(), name)()
        r = run_cases(spark, sch, goods + [bad])
        for i in range(len(goods)):
            assert_ok(r[i])
        assert_err(r[-1], code, message)

    r = run_cases(spark, schema().string().username(), ["john_doe", "user123", "a"])
    assert_ok(r[0])
    assert_ok(r[1])
    assert_err(r[2], "INVALID_USERNAME", message_contains="3-16 chars")

    r = run_cases(spark, schema().string().password(), ["Password123", "weak"])
    assert_ok(r[0])
    assert_err(r[1], "INVALID_PASSWORD", message_contains="min 8 chars")


def test_string_length(spark):
    # tests/string.rs:98-119
    sch = (
        schema()
        .string()
        .min_length(3)
        .max_length(10)
        .set_message("INVALID_LENGTH", "String must be between 3 and 10 characters")
    )
    r = run_cases(spark, sch, ["hello", "hi", "hello world!"])
    assert_ok(r[0], "hello")
    assert_err(r[1], "INVALID_LENGTH", message_contains="between 3 and 10 characters")
    assert_err(r[2], "INVALID_LENGTH", message_contains="between 3 and 10 characters")


def test_default_length_messages(spark):
    # message templates from error.rs:78-87 (byte length semantics)
    sch = schema().string().min_length(3)
    assert_err(
        run_one(spark, sch, "hi"),
        "MIN_LENGTH_ERROR",
        "Length error: expected at least 3 characters, got 2",
    )
    sch = schema().string().max_length(4)
    assert_err(
        run_one(spark, sch, "héllo"),  # 6 BYTES (é is 2 bytes), 5 chars
        "MAX_LENGTH_ERROR",
        "Length error: expected at most 4 characters, got 6",
    )


def test_string_combined(spark):
    # tests/string.rs:122-143 — custom message covers max-length AND pattern
    sch = (
        schema()
        .string()
        .email()
        .max_length(50)
        .set_message("INVALID_EMAIL", "Invalid email format (max 50 chars)")
    )
    r = run_cases(
        spark, sch, ["user@example.com", "a" * 100 + "@example.com", "not-an-email"]
    )
    assert_ok(r[0])
    assert_err(r[1], "INVALID_EMAIL", message_contains="max 50 chars")
    assert_err(r[2], "INVALID_EMAIL", message_contains="max 50 chars")


def test_transform_chain_with_custom(spark):
    # tests/string.rs:146-162 — trim → upper → replace(HELLO→HI) → lower
    sch = (
        schema()
        .string()
        .trim()
        .to_uppercase()
        .transform(lambda v: v.replace("HELLO", "HI"))
        .to_lowercase()
    )
    assert_ok(run_one(spark, sch, " hello world "), "hi world")


def test_transformed_drops_length_checks(spark):
    # string.rs:251-283 quirk — min_length ignored once a transform exists
    sch = schema().string().trim().min_length(3)
    assert_ok(run_one(spark, sch, " hi "), "hi")  # 2 chars but PASSES


def test_string_coercion_then_pattern(spark):
    # tests/string.rs:166-181 — coerced values still run pattern checks
    s = schema()
    sch = s.coerce().string().ipv4()
    assert_err(run_one(spark, sch, 42), "INVALID_IPV4", message_contains="IPv4")
    assert_err(run_one(spark, sch, True), "INVALID_IPV4", message_contains="IPv4")


def test_coerce_to_string_outputs(spark):
    # string.rs:684-698: i64 → "42"; f64 via {:.0} (no decimal point,
    # round-half-even); bool → "true"/"false"
    s = schema()
    assert_ok(run_one(spark, s.coerce().string(), 42), "42")
    assert_ok(run_one(spark, s.coerce().string(), True), "true")
    assert_ok(run_one(spark, s.coerce().string(), False), "false")
    r = run_cases(spark, s.coerce().string(), [42.0, 42.7, 2.5, 3.5, -1.2])
    assert [x[0] for x in r] == ["42", "43", "2", "4", "-1"]


def test_type_error_without_coerce(spark):
    # string.rs:705-717: non-string without coerce → TYPE_ERROR
    sch = schema().string()
    assert_err(
        run_one(spark, sch, 42),
        "TYPE_ERROR",
        "Type error: expected String, got Integer",
    )
    assert_err(
        run_one(spark, sch, 1.5),
        "TYPE_ERROR",
        "Type error: expected String, got Float",
    )
    assert_err(
        run_one(spark, sch, True),
        "TYPE_ERROR",
        "Type error: expected String, got Boolean",
    )


def test_pattern_error_default_message(spark):
    # error.rs:73-77 template with runtime got value
    sch = schema().string().pattern(r"^\d+$")
    assert_err(
        run_one(spark, sch, "abc"),
        "PATTERN_ERROR",
        r"Pattern error: 'abc' does not match pattern '^\d+$'",
    )


def test_unicode_trim_parity(spark):
    # Rust char::is_whitespace trims NBSP/ideographic space; F.trim would not.
    sch = schema().string().trim()
    assert_ok(run_one(spark, sch, " 　 hi \t\n "), "hi")
    # but zero-width space U+200B is NOT White_Space — must survive
    assert_ok(run_one(spark, sch, "\u200bhi"), "\u200bhi")
    assert_ok(run_one(spark, sch, " \u3000\t\u2029\xa0"), "")
    # 4-byte UTF-8 character next to a 3-byte White_Space one; NULL stays NULL
    emoji, null = run_cases(spark, sch, ["😀\u3000", None])
    assert_ok(emoji, "😀")
    assert null[0] is None
    assert_err(null, "MISSING_FIELD")


def test_pattern_unicode_classes_match_rust_dialect(spark):
    # Rust's regex crate treats \d as \p{Nd} (Unicode decimal digit) by
    # default — the reference's own DATE pattern (patterns.rs:12) therefore
    # accepts an Arabic-Indic-digit year.  Java's \d is ASCII unless
    # UNICODE_CHARACTER_CLASS is on; compile.jvm_regex prepends (?U) so the
    # rlike evaluation follows the Rust dialect.  Python re (the property
    # tests' Rust stand-in) agrees on every case below.
    import re as _re

    s = schema()
    cases = [
        ("٤٢", True),            # Arabic-Indic digits: Rust \d+ matches
        ("42", True),
        ("4٢", True),            # mixed scripts still all-digits
        ("x1", False),
        ("", False),
    ]
    sch = s.string().pattern(r"^\d+$")
    r = run_cases(spark, sch, [v for v, _ in cases])
    for (v, want), (out, viol) in zip(cases, r):
        assert _re.search(r"^\d+\Z", v) is not None is (viol is None) or (
            (_re.search(r"^\d+\Z", v) is not None) == (viol is None)
        ), v
        assert (viol is None) == want, (v, viol)
    # \w and \s follow too ((?U) switches the whole family)
    w = run_cases(spark, s.string().pattern(r"^\w+$"), ["héllo", "héllo!"])
    assert w[0][1] is None and w[1][1] is not None


def test_transform_runs_once_per_value_per_write(spark, tmp_path):
    # TransformedSchema::validate (string.rs:251-283) calls the closure once
    # per value; writing the valid rows and then the violations, both of
    # which filter on `valid`, must call it once per string value per write
    from pyspark.sql import functions as F

    from schema_validator_spark import ValidationPlan

    calls = spark.sparkContext.accumulator(0)

    def capitalize(v):
        calls.add(1)
        return v.capitalize()

    s = schema()
    plan = ValidationPlan(
        s.object()
        .field("user", s.string().transform(capitalize).pattern(r"^[A-Z][a-z]+$"))
        .field("n", s.number())
    )
    rows = [(0, "bob", 1.0), (1, "al1", 2.0), (2, None, 3.0), (3, "eve", 4.0), (4, "tom", None)]
    strings = 4
    out = plan.apply(spark.createDataFrame(rows, "id long, user string, n double"))
    out.where(F.col("valid")).write.parquet(str(tmp_path / "valid"))
    assert calls.value == strings
    plan.violations(out, ["id"]).write.parquet(str(tmp_path / "violations"))
    assert calls.value == 2 * strings
    valid = spark.read.parquet(str(tmp_path / "valid")).collect()
    assert sorted((r["id"], r["user"]) for r in valid) == [(0, "Bob"), (3, "Eve")]
    got = spark.read.parquet(str(tmp_path / "violations")).orderBy("id").collect()
    assert [(r["id"], r["field"], r["code"]) for r in got] == [
        (1, "user", "PATTERN_ERROR"), (2, "user", "MISSING_FIELD"), (4, "n", "MISSING_FIELD"),
    ]
