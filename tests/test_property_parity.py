"""Property-based parity: random unicode inputs through the compiled JVM plan
must match a pure-Python model of the reference semantics (string.rs:704-759).

Each hypothesis example validates a whole batch as ONE DataFrame (per-example
Spark jobs would be prohibitively slow), so the strategy generates lists.
deadline=None: Spark job latency is irrelevant to the property.
"""

import json
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from schema_validator_spark import ValidationPlan, schema, validate_json_objects
from schema_validator_spark.functions.patterns import EMAIL, USERNAME, WHITE_SPACE

# printable-ish unicode plus every Unicode White_Space code point and the
# near misses trim must keep: U+200B, U+FEFF, U+180E (not White_Space since
# Unicode 6.3) and U+001C-U+001F (Python isspace but NOT White_Space — a
# known Python-vs-Rust trim divergence); 😀 is a 4-byte UTF-8 character
_ALPHABET = st.sampled_from(
    list("abXY09._%+-@") + list(WHITE_SPACE)
    + ["\u200b", "\ufeff", "\u180e", "\x1c", "\x1d", "\x1e", "\x1f"]
    + ["é", "ß", "中", "😀"]
)
_TEXTS = st.lists(st.text(_ALPHABET, max_size=24), min_size=1, max_size=60)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)


def _rust_search(pattern, s):
    """Rust-regex semantics in Python re: Rust's `$` is strict end-of-haystack
    (Python's allows a final \\n) — mirror compile.jvm_regex's rewrite."""
    if pattern.endswith("$") and not pattern.endswith(r"\$"):
        pattern = pattern[:-1] + r"\Z"
    return re.search(pattern, s)


def _expected_plain(s, min_len, max_len, pattern):
    """Reference StringSchema.validate: type → min → max → pattern,
    byte lengths (string.rs:704-759)."""
    if s is None:
        return "MISSING_FIELD"
    b = len(s.encode("utf-8"))
    if min_len is not None and b < min_len:
        return "MIN_LENGTH_ERROR"
    if max_len is not None and b > max_len:
        return "MAX_LENGTH_ERROR"
    if pattern is not None and not _rust_search(pattern, s):
        return "PATTERN_ERROR"
    return None


def _run_codes(spark, values, sch):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, v string")
    s = schema()
    plan = ValidationPlan(s.object().field("v", sch))
    out = plan.apply(df).select(
        "i", "v", F.try_element_at("violations", F.lit(1))["code"].alias("code")
    )
    return {r["i"]: (r["v"], r["code"]) for r in out.collect()}


@given(_TEXTS)
@settings(**_SETTINGS)
def test_plain_string_checks_match_reference_model(spark, values):
    s = schema()
    sch = s.string().min_length(2).max_length(12).pattern(r"^[a-zA-Z0-9._%+-]+$")
    got = _run_codes(spark, values, sch)
    for i, v in enumerate(values):
        exp = _expected_plain(v, 2, 12, r"^[a-zA-Z0-9._%+-]+$")
        code = got[i][1]
        assert code == exp, f"{v!r}: spark={code} expected={exp}"


@given(_TEXTS)
@settings(**_SETTINGS)
def test_trim_lower_parity_jvm_vs_python(spark, values):
    """The JVM code-point-set trim must agree with the reference model
    (Unicode White_Space, NOT Python str.strip()'s wider isspace set) on
    both the tabular and the JSON path."""
    s = schema()
    obj = s.object().field("v", s.string().trim().to_lowercase())
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, v string")
    js = spark.createDataFrame(
        [(i, json.dumps({"v": v})) for i, v in enumerate(values)], "i long, j string"
    )
    for out in (ValidationPlan(obj).apply(df), validate_json_objects(js, "j", obj)):
        got = {r["i"]: r["v"] for r in out.select("i", "v").collect()}
        for i, v in enumerate(values):
            assert got[i] == v.strip(WHITE_SPACE).lower(), f"{v!r}"


@given(_TEXTS)
@settings(**_SETTINGS)
def test_builtin_patterns_dialect_neutral(spark, values):
    """EMAIL/USERNAME built-ins evaluate identically under Java regex (rlike)
    and Python re across arbitrary input."""
    s = schema()
    got = _run_codes(spark, values, s.string().email())
    for i, v in enumerate(values):
        exp = "INVALID_EMAIL" if not _rust_search(EMAIL, v) else None
        assert got[i][1] == exp, f"email {v!r}"
    got = _run_codes(spark, values, s.string().username())
    for i, v in enumerate(values):
        exp = "INVALID_USERNAME" if not _rust_search(USERNAME, v) else None
        assert got[i][1] == exp, f"username {v!r}"


@given(st.lists(
    st.one_of(
        st.floats(allow_nan=False, allow_infinity=False,
                  min_value=-9.2e18, max_value=9.2e18),
        st.integers(min_value=-2**53, max_value=2**53).map(float),
        st.sampled_from([float("inf"), float("-inf"), 2.5, 3.5, -0.3,
                         2.8823037615171174e17]),
    ),
    min_size=1, max_size=60,
))
@settings(**_SETTINGS)
def test_coerce_float_to_string_matches_rust_format(spark, values):
    """coerce f64→string is Rust format!("{:.0}"): round-half-even, no
    decimal point, inf spelled "inf" (string.rs:692).  Exactness guaranteed
    for |x| < 2^63 (see compile.rust_f64_to_string)."""
    s = schema().coerce()
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, v double")
    plan = ValidationPlan(s.object().field("v", s.string()))
    got = {r["i"]: r["v"] for r in plan.apply(df).select("i", "v").collect()}
    for i, v in enumerate(values):
        expected = f"{v:.0f}"
        assert got[i] == expected, f"{v!r}: spark={got[i]!r} py={expected!r}"


# -- case-transform parity (string.rs:663-682) --------------------------------
# Rust std to_lowercase/to_uppercase implements full Unicode SpecialCasing:
# Final_Sigma context for Σ, ß→SS, İ→i+COMBINING DOT, expanding ligatures.
# The engine has two execution paths — JVM (F.lower/F.upper) and the fused
# pandas stage (str.lower/str.upper) — both must match the Rust outputs.

_CASE_GOLDEN = [
    # (input, rust_to_lowercase, rust_to_uppercase)
    ("ΑΣ", "ας", "ΑΣ"),        # final sigma at end of word
    ("Σ", "σ", "Σ"),           # no preceding cased char → non-final form
    ("ΑΣΑ", "ασα", "ΑΣΑ"),     # followed by cased char → non-final form
    ("ΑΣ x", "ας x", "ΑΣ X"),  # followed by uncased char → final form
    ("ß", "ß", "SS"),          # sharp s expands
    ("straße", "straße", "STRASSE"),
    ("İ", "i̇", "İ"),           # dotted capital I → i + U+0307
    ("ı", "ı", "I"),           # dotless i (ROOT locale, not Turkish)
    ("ﬁle", "ﬁle", "FILE"),    # ligature expands
    ("ŉ", "ŉ", "ʼN"),
]


def _case_outputs(spark, sch_builder):
    values = [c[0] for c in _CASE_GOLDEN]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "i long, v string"
    )
    s = schema()
    plan = ValidationPlan(s.object().field("v", sch_builder(s)))
    return {r["i"]: r["v"] for r in plan.apply(df).select("i", "v").collect()}


def test_case_transforms_match_rust_golden_jvm(spark):
    low = _case_outputs(spark, lambda s: s.string().to_lowercase())
    up = _case_outputs(spark, lambda s: s.string().to_uppercase())
    for i, (v, rl, ru) in enumerate(_CASE_GOLDEN):
        assert low[i] == rl, f"lower({v!r}): jvm={low[i]!r} rust={rl!r}"
        assert up[i] == ru, f"upper({v!r}): jvm={up[i]!r} rust={ru!r}"


def test_case_transforms_match_rust_golden_fused_pandas(spark):
    # a custom transform in the chain routes the whole chain through the
    # fused pandas stage — same golden outputs required there
    low = _case_outputs(
        spark, lambda s: s.string().transform(lambda v: v).to_lowercase()
    )
    up = _case_outputs(
        spark, lambda s: s.string().transform(lambda v: v).to_uppercase()
    )
    for i, (v, rl, ru) in enumerate(_CASE_GOLDEN):
        assert low[i] == rl, f"lower({v!r}): pandas={low[i]!r} rust={rl!r}"
        assert up[i] == ru, f"upper({v!r}): pandas={up[i]!r} rust={ru!r}"


@given(st.lists(
    st.text(st.sampled_from(list("aAßΣσςİı ﬁŉxX中")), max_size=12),
    min_size=1, max_size=40,
))
@settings(**_SETTINGS)
def test_case_transform_paths_agree(spark, values):
    """JVM and fused-pandas case paths must agree on arbitrary input drawn
    from the SpecialCasing-heavy alphabet."""
    s = schema()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "i long, v string"
    )
    jvm = ValidationPlan(
        s.object().field("v", s.string().to_lowercase().to_uppercase())
    )
    pand = ValidationPlan(
        s.object().field(
            "v", s.string().transform(lambda x: x).to_lowercase().to_uppercase()
        )
    )
    a = {r["i"]: r["v"] for r in jvm.apply(df).select("i", "v").collect()}
    b = {r["i"]: r["v"] for r in pand.apply(df).select("i", "v").collect()}
    for i, v in enumerate(values):
        assert a[i] == b[i], f"{v!r}: jvm={a[i]!r} pandas={b[i]!r}"


# -- URL canonicalizer: Spark vs DuckDB byte-parity --------------------------
# The grammar deliberately covers the round-3 advice list: case-sensitive
# userinfo (incl. multiple '@'), bracketed IPv6 hosts with/without default
# ports, %-escape case in paths and query values, '+' in query values,
# utm_ params, empty params, fragments, no-scheme values.

_URL_SCHEMES = st.sampled_from(
    ["http", "HTTP", "hTTps", "https", "HTTPS", "Ftp", ""]
)
_URL_USERINFO = st.one_of(
    st.just(""),
    st.from_regex(r"[A-Za-z0-9.%:+_-]{1,8}@", fullmatch=True),
    st.from_regex(r"[A-Za-z]{1,4}@[A-Za-z]{1,4}@", fullmatch=True),  # last-@ split
)
_URL_HOSTS = st.one_of(
    st.from_regex(r"[A-Za-z0-9-]{1,8}(\.[A-Za-z0-9-]{1,8}){0,2}", fullmatch=True),
    st.sampled_from(["[2001:DB8::1]", "[::1]", "[fe80::80]", "[FE80::443]"]),
)
_URL_PORTS = st.sampled_from(["", ":80", ":443", ":8080"])
_URL_PATHS = st.one_of(
    st.just(""),
    st.from_regex(r"/[A-Za-z0-9%2Ff+._/-]{0,12}", fullmatch=True),
)
_URL_PARAMS = st.lists(
    st.sampled_from(
        ["utm_source=x", "utm_medium=Y", "a=1", "B=x+y", "c=%2F", "c=%2f", "", "k"]
    ),
    max_size=4,
)
_URL_FRAGS = st.sampled_from(["", "#frag", "#A#b"])


@st.composite
def _urls(draw):
    scheme = draw(_URL_SCHEMES)
    if not scheme:
        return draw(st.sampled_from(["", "  plain text  ", "no-scheme/path?x=1"]))
    params = draw(_URL_PARAMS)
    query = "?" + "&".join(params) if params else ""
    return (
        draw(st.sampled_from(["", " ", "  "]))
        + scheme + "://" + draw(_URL_USERINFO) + draw(_URL_HOSTS)
        + draw(_URL_PORTS) + draw(_URL_PATHS) + query + draw(_URL_FRAGS)
        + draw(st.sampled_from(["", " "]))
    )


@given(st.lists(_urls(), min_size=1, max_size=50))
@settings(**_SETTINGS)
def test_normalize_url_byte_parity_with_duckdb(spark, urls):
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from schema_validator_spark.sources import webpages

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id long, u string"
    )
    got = {
        r["doc_id"]: r["norm_url"]
        for r in df.select(
            "doc_id", webpages.normalize_url(F.col("u")).alias("norm_url")
        ).collect()
    }
    con = duckdb.connect()
    con.register("urls", pd.DataFrame({"doc_id": range(len(urls)), "u": urls}))
    sql = (
        "WITH raw AS (SELECT doc_id, u AS r FROM urls),\n"
        + entry._NORM_URL_CTES
        + entry._NORM_URL_FINAL
    )
    want = dict(con.sql(sql).fetchall())
    assert got == want


# -- fix_mojibake roundtrip property ------------------------------------------

_MB_ALPHABET = st.sampled_from(
    list("abc XYZ 09.,!") + list("’“–—…éèêàâäöüçñóúß«»")
)
_MB_TEXTS = st.lists(st.text(_MB_ALPHABET, max_size=30), min_size=1, max_size=40)


@given(_MB_TEXTS)
@settings(**_SETTINGS)
def test_fix_mojibake_roundtrip_property(spark, texts):
    """For ANY clean string over the repaired alphabet, damaging it with the
    utf-8-read-as-cp1252 mistake and running fix_mojibake restores it
    byte-for-byte, and n_artifacts counts exactly the non-ascii chars."""
    from schema_validator_spark.operators import cleaning

    rows = [
        (i, t.encode("utf-8").decode("cp1252")) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r for r in cleaning.fix_mojibake(df, "doc_id").collect()
    }
    for i, clean in enumerate(texts):
        assert out[i]["fixed"] == clean
        assert out[i]["n_artifacts"] == sum(1 for c in clean if ord(c) > 127)


# -- split_by_group total-coverage property ------------------------------------

@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=9),
)
@settings(**_SETTINGS)
def test_split_by_group_covers_and_never_straddles(spark, groups, tenths):
    """With fractions summing to 1, every row gets a non-NULL split, and all
    rows of one group land in the same split — for any group population and
    any train/eval boundary."""
    from schema_validator_spark.operators import sampling

    frac = tenths / 10.0
    rows = [(i, f"g{g}") for i, g in enumerate(groups)]
    df = spark.createDataFrame(rows, "doc_id long, g string")
    out = sampling.split_by_group(df, "g", {"train": frac, "eval": 1.0 - frac})
    got = out.collect()
    assert all(r["split"] in ("train", "eval") for r in got)
    by_group = {}
    for r in got:
        by_group.setdefault(r["g"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_group.values())


# -- §2.A coercion matrix property (VERDICT r4 #8) ------------------------------
#
# Golden source: reference tests/coercion/mod.rs:44-82 plus the validate()
# dispatch in src/schema/{string,number,boolean}.rs — a pure-Python model of
# that truth table checked against the compiled Spark plan for random
# (value type × coerce flag × schema target) combinations.

import math as _math

_RUST_NUM_RE = re.compile(  # ASCII-only: Rust rejects Unicode digits
    r"[+-]?(([0-9]+\.?[0-9]*)|(\.[0-9]+))([eE][+-]?[0-9]+)?\Z"
)
_RUST_INF_RE = re.compile(r"[+-]?(inf|infinity)\Z", re.IGNORECASE)
_RUST_NAN_RE = re.compile(r"[+-]?nan\Z", re.IGNORECASE)


def _rust_parse_f64(s):
    """Rust f64::from_str: no surrounding whitespace, no '_' separators, no
    hex; inf/infinity/nan in any case; optional sign; decimal + exponent."""
    if _RUST_INF_RE.match(s):
        neg = s.startswith("-")
        return float("-inf") if neg else float("inf")
    if _RUST_NAN_RE.match(s):
        return float("nan")
    if _RUST_NUM_RE.match(s):
        return float(s)
    return None


_RUST_TYPE_NAME = {str: "String", int: "Integer", float: "Float", bool: "Boolean"}


def _coercion_truth(target, coerce, v):
    """(expected_value, expected_code) per the reference dispatch.  bool is
    checked before int (Python bools are ints; Rust types are disjoint)."""
    kind = bool if isinstance(v, bool) else type(v)
    got = _RUST_TYPE_NAME[kind]
    if target == "string":
        if kind is str:
            return v, None
        if not coerce:
            return None, ("TYPE_ERROR", f"Type error: expected String, got {got}")
        if kind is bool:
            return ("true" if v else "false"), None
        if kind is int:
            return str(v), None
        if _math.isnan(v):
            return "NaN", None  # Rust {:.0} spells non-finites NaN/inf/-inf
        if _math.isinf(v):
            return ("inf" if v > 0 else "-inf"), None
        if abs(v) < 2.0**63:
            return format(v, ".0f"), None  # Rust {:.0}: half-even, keeps "-0"
        # |x| >= 2^63: DOCUMENTED best-effort divergence
        # (compile.rust_f64_to_string): Java %.0f prints Double.toString's
        # digits + zero padding, not Rust's exact binary expansion — assert
        # the round-trip contract instead of exact digits
        return ("__roundtrip__", v), None
    if target == "number":
        if kind is float:
            return v, None
        if not coerce:
            return None, ("TYPE_ERROR", f"Type error: expected Number, got {got}")
        if kind is bool:
            return (1.0 if v else 0.0), None
        if kind is int:
            return float(v), None
        parsed = _rust_parse_f64(v)
        if parsed is None:
            return None, (
                "COERCION_ERROR",
                "Coercion error: cannot convert String to Number",
            )
        return parsed, None
    # boolean
    if kind is bool:
        return v, None
    if not coerce:
        return None, ("TYPE_ERROR", f"Type error: expected Boolean, got {got}")
    if kind is int:
        return v != 0, None
    if kind is float:
        return v != 0.0, None  # NaN != 0.0 -> true, like Rust
    return v != "", None


_NUMBERISH = st.one_of(
    st.from_regex(r"[+-]?\d{1,12}(\.\d{0,8})?([eE][+-]?\d{1,2})?", fullmatch=True),
    st.sampled_from(
        [
            "", " 42", "42 ", "inf", "-inf", "Infinity", "NaN", "nan",
            "1_000", "0x10", ".5", "5.", "+.5", "1e", "e5", "--1", "1.2.3",
            "not a number", "4 2", "٤٢",
        ]
    ),
    st.text(st.sampled_from(list("0123456789.eE+- _xZ")), max_size=12),
)

_COERCION_VALUES = {
    "str": st.lists(_NUMBERISH, min_size=1, max_size=30),
    "int": st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=30
    ),
    "float": st.lists(
        st.floats(allow_nan=False, allow_infinity=True, width=64),
        min_size=1,
        max_size=30,
    ),
    "bool": st.lists(st.booleans(), min_size=1, max_size=30),
}

_KIND_SPARK = {"str": "string", "int": "long", "float": "double", "bool": "boolean"}


@given(
    st.sampled_from(["string", "number", "boolean"]),
    st.booleans(),
    st.sampled_from(["str", "int", "float", "bool"]),
    st.data(),
)
@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
def test_coercion_matrix_property(spark, target, coerce, kind, data):
    from pyspark.sql import types as T

    from helpers import run_cases

    values = data.draw(_COERCION_VALUES[kind])
    s = schema().coerce() if coerce else schema()
    sch = getattr(s, target)()
    spark_type = {
        "str": T.StringType(),
        "int": T.LongType(),
        "float": T.DoubleType(),
        "bool": T.BooleanType(),
    }[kind]
    results = run_cases(spark, sch, values, spark_type=spark_type)
    for v, (out, viol) in zip(values, results):
        want_val, want_err = _coercion_truth(target, coerce, v)
        ctx = f"target={target} coerce={coerce} value={v!r}"
        if want_err is None:
            assert viol is None, f"{ctx}: unexpected {viol}"
            if isinstance(want_val, tuple) and want_val[0] == "__roundtrip__":
                # best-effort range: integer string that parses back to the
                # exact same double, correct sign, no point/exponent
                assert re.fullmatch(r"-?\d+", out), f"{ctx}: {out!r}"
                assert float(out) == want_val[1], f"{ctx}: {out!r}"
            elif isinstance(want_val, float):
                if _math.isnan(want_val):
                    assert _math.isnan(out), ctx
                else:
                    assert out == want_val, f"{ctx}: {out!r} != {want_val!r}"
            else:
                assert out == want_val, f"{ctx}: {out!r} != {want_val!r}"
        else:
            code, msg = want_err
            assert viol is not None, f"{ctx}: expected {code}, got ok({out!r})"
            assert viol["code"] == code, f"{ctx}: {viol['code']} != {code}"
            assert viol["message"] == msg, f"{ctx}: {viol['message']!r}"


def _cross_path_schemas():
    s = schema()
    yield s.string().min_length(2).max_length(12)
    yield s.string().pattern(r"^[a-zA-Z0-9._%+-]+$")
    yield s.string().email()
    yield s.string().trim().to_lowercase().url()
    yield s.string().transform(lambda v: v[::-1]).pattern(r"^[a-z]")
    yield s.string().min_length(3).pattern("^a").set_message("CUSTOM", "custom message")


@given(_TEXTS)
@settings(**_SETTINGS)
def test_string_checks_agree_across_tabular_and_json(spark, values):
    """Both paths run the same value checks: for a non-null string, the
    tabular `apply` and `validate_json_objects` on {"f": v} give the same
    value and the same (code, message, error_type) rows."""
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, f string")
    js = spark.createDataFrame(
        [(i, json.dumps({"f": v})) for i, v in enumerate(values)], "i long, j string"
    )
    for sch in _cross_path_schemas():
        obj = schema().object().field("f", sch)
        rows = [
            {
                r["i"]: (r["f"], [(v["code"], v["message"], v["error_type"]) for v in r["violations"]])
                for r in out.select("i", "f", "violations").collect()
            }
            for out in (ValidationPlan(obj).apply(df), validate_json_objects(js, "j", obj))
        ]
        assert rows[0] == rows[1]
