"""Schema → constraint-plan compiler.

Turns a declarative schema (schema.py) into per-field ``(value, violation)``
Column pairs that evaluate in ONE DataFrame projection — the distributed
re-expression of the reference's eager per-value interpreter
(/root/reference/src/schema/string.rs:704-759, number.rs:151-188,
boolean.rs:259-298, literal.rs:56-80, object.rs:248-316).

Design notes (Spark-first, SURVEY.md §3-4):
- Everything that can be a native Column expression IS one (``rlike``,
  ``octet_length``, ``when``) so the whole check projection stays inside
  whole-stage codegen — no Python worker round-trip on the hot path.
- Check order parity: type/coerce → min_length → max_length → pattern, first
  failure wins per value (``F.when`` chain = short-circuit).
- Transformed chains (any transform present) check PATTERN ONLY against the
  post-transform value; min/max silently dropped (string.rs:251-283 quirk).
- User ``transform(fn)`` callables fuse with neighbouring built-ins into a
  SINGLE Arrow-vectorized pandas UDF per column (one JVM↔Python round trip,
  never one per combinator), evaluated once per row in a staging projection
  (``TransformStage``) that the checks read from.
- Byte-length semantics: Rust ``String::len`` counts bytes → ``octet_length``.
"""

from __future__ import annotations

import builtins
from dataclasses import dataclass
from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import errors as E
from ..errors import ErrorConfig
from ..functions.patterns import WHITE_SPACE
from ..schema import (
    BaseSchema,
    BooleanSchema,
    LiteralSchema,
    NumberSchema,
    ObjectSchema,
    StringSchema,
    Transform,
)

VIOLATION_DDL = "struct<field:string,code:string,message:string,error_type:string>"


def spark_type_name(dt: T.DataType) -> str:
    """Reference runtime type names (string.rs:776-782)."""
    if isinstance(dt, T.StringType):
        return "String"
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "Integer"
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return "Float"
    if isinstance(dt, T.BooleanType):
        return "Boolean"
    return "Unknown"


def _viol(field_name: str, code, message, error_type: str) -> Column:
    """One violation struct.  ``error_type`` is the reference's LOGICAL
    ``ErrorType`` variant name (error.rs:19-31) and is NOT overridden by
    ``set_message`` — the reference keeps it even when code+message are
    customized (error.rs:51-66), so callers can branch on the logical kind."""
    code = code if isinstance(code, Column) else F.lit(code)
    message = message if isinstance(message, Column) else F.lit(message)
    return F.struct(
        F.lit(field_name).alias("field"),
        code.alias("code"),
        message.alias("message"),
        F.lit(error_type).alias("error_type"),
    )


def _null_viol() -> Column:
    return F.lit(None).cast(VIOLATION_DDL)


@dataclass
class CompiledField:
    name: str
    value: Column  # transformed output; NULL when the row failed this field
    violation: Column  # struct<field,code,message>, NULL when the field passed
    out_ddl: str
    # pure-boolean pass flag, equivalent to violation.isNull() but built from
    # the raw check conditions WITHOUT any struct/array machinery: queries
    # that only consume `valid` (verdict aggregation — the 100 TB hot path)
    # let Catalyst prune the violation structs entirely and keep the whole
    # projection inside whole-stage codegen (higher-order array exprs break it)
    passes: Column = None


def _override(cfg: Optional[ErrorConfig], code, message):
    """set_message replaces code+message for EVERY error of the schema."""
    if cfg is not None:
        return F.lit(cfg.code), F.lit(cfg.message)
    code = code if isinstance(code, Column) else F.lit(code)
    message = message if isinstance(message, Column) else F.lit(message)
    return code, message


def _const_field(name: str, out_ddl: str, code, message, error_type: str) -> CompiledField:
    """A field whose every row fails with the same violation (e.g. static type
    mismatch).  Catalyst constant-folds this to zero per-row work."""
    return CompiledField(
        name,
        F.lit(None).cast(out_ddl),
        _viol(name, code, message, error_type),
        out_ddl,
        F.lit(False),
    )


# ---------------------------------------------------------------------------
# transforms
# ---------------------------------------------------------------------------

def jvm_regex(pattern: str) -> str:
    """Adapt a pattern for Java-regex evaluation with Rust-regex semantics.

    Two dialect repairs (messages always embed the ORIGINAL pattern):

    1. Rust's ``$`` (and RE2's, hence DuckDB's) anchors at the strict end of
       the haystack; Java's ``$`` also matches before a FINAL LINE TERMINATOR
       (\\n, \\r, \\u2028, \\u2029, \\u0085), so ``^\\d+$`` would wrongly
       accept ``"0\\u2028"`` under ``rlike`` (found by property test).
       Rewrite a terminal unescaped ``$`` to ``\\z``; ``$`` elsewhere (rare:
       alternation branches) is left as-is and documented.
    2. Rust's ``\\d``/``\\w``/``\\s``/``\\b`` are Unicode-aware by default
       (``\\d`` = ``\\p{Nd}`` — the reference's DATE pattern accepts
       U+0660-digit years, patterns.rs:12); Java's are ASCII unless
       UNICODE_CHARACTER_CLASS is on.  Prepend the ``(?U)`` inline flag,
       which turns on exactly that (and Unicode case folding for ``(?i)``,
       also Rust's behavior).  Patterns spelling explicit classes
       (``[0-9]``) are unaffected.  The number-coercion parser keeps its
       ASCII regex separately — Rust's ``str::parse::<f64>`` really is
       ASCII-only, unlike its regex crate.
    """
    if pattern.endswith("$"):
        backslashes = len(pattern) - 1 - len(pattern[:-1].rstrip("\\"))
        if backslashes % 2 == 0:  # unescaped terminal $ — strict-end anchor
            pattern = pattern[:-1] + "\\z"
    return "(?U)" + pattern


def rust_f64_to_string(col: Column) -> Column:
    """Rust ``format!("{:.0}", x)`` parity (string.rs:692): round-half-even at
    the decimal point, no decimal point in the output, ``NaN``/``inf``/
    ``-inf`` spelled the Rust way.

    Exactness: |x| < 2^52 → bround (HALF_EVEN) + ``%.0f`` (both exact in that
    range); integral 2^52 ≤ |x| < 2^63 → cast through long (exact decimal
    digits — ``bround``'s BigDecimal.valueOf path uses the double's
    shortest-repr and mangles the low digits here, found by property test).
    |x| ≥ 2^63 would need arbitrary-precision expansion (Rust prints all ~300
    digits); out of supported range for a validation engine — documented.
    """
    two52 = 4503599627370496.0
    two63 = 9.223372036854775e18
    # sign handled separately: BigDecimal drops -0.0's sign, but Rust prints
    # "-0" for any negative value rounding to zero (e.g. -0.3, -0.0)
    # -0.0 detection without division (ANSI mode): Java %f preserves the sign
    negative = (col < 0) | (
        (col == 0.0) & F.format_string("%.1f", col).startswith("-")
    )
    sign = F.when(negative, F.lit("-")).otherwise(F.lit(""))
    small = F.concat(sign, F.format_string("%.0f", F.bround(F.abs(col), 0)))
    return (
        F.when(F.isnan(col), F.lit("NaN"))
        .when(col == float("inf"), F.lit("inf"))
        .when(col == float("-inf"), F.lit("-inf"))
        .when(F.abs(col) < two52, small)
        .when(F.abs(col) < two63, col.cast("long").cast("string"))
        .otherwise(F.format_string("%.0f", col))  # best-effort beyond 2^63
    )


def _apply_native_transform(s: Column, t: Transform) -> Column:
    """``trim`` is Spark's StringTrim with the White_Space code points as its
    trim-character set (one-argument ``F.trim`` strips ASCII space only,
    SURVEY.md §7 risk 1): whole UTF-8 characters matched on the bytes."""
    if t.name == "trim":
        return F.trim(s, F.lit(WHITE_SPACE))
    if t.name == "lower":
        return F.lower(s)
    if t.name == "upper":
        return F.upper(s)
    raise ValueError(f"not a native transform: {t.name}")


def _fused_pandas_transform(transforms: list[Transform], out_ddl: str):
    """Fuse a whole transform chain into ONE pandas UDF (one Arrow hop).

    Plans call it through ``TransformStage``: the chain runs once per value
    in its own projection and every check reads the staged result — the
    reference's contract (``TransformedSchema::validate`` applies the
    closure once, then checks the pattern on its output, string.rs:251-283).
    """
    steps = [(t.name, t.fn) for t in transforms]

    def run(series: pd.Series) -> pd.Series:
        s = series
        for name, fn in steps:
            if name == "trim":
                s = s.str.strip(WHITE_SPACE)
            elif name == "lower":
                s = s.str.lower()
            elif name == "upper":
                s = s.str.upper()
            else:
                s = s.map(fn, na_action="ignore")
        return s

    return F.pandas_udf(run, out_ddl)


def _optional_pandas_transform(transforms: list[Transform], out_ddl: str):
    """Option-mapping pandas UDF: None-aware (fn receives Python None)."""
    fns = [t.fn for t in transforms]

    def run(series: pd.Series) -> pd.Series:
        vals = [None if pd.isna(v) else v for v in series]
        for fn in fns:
            vals = [fn(v) for v in vals]
        return pd.Series(vals, dtype=object)

    return F.pandas_udf(run, out_ddl)


class TransformStage:
    """Stages a plan's Python transform calls in their own projections.

    Inlined into the check expressions, a pandas-UDF call runs once per
    Python eval operator that needs it, and a ``valid`` filter pushed below
    the validation projection (``where(valid)``, ``violations()``) carries a
    copy of it into a second operator.  Each call registered here becomes a
    column ``_t_<field>`` of a projection under the validation projection,
    and the field's value and checks read that column.  The call is marked
    nondeterministic, so Spark neither copies it nor pushes a filter below
    its projection: every transform chain runs exactly once per row per
    job.  (Marking an inline call alone is not enough — a nondeterministic
    call is evaluated once per reference.)
    """

    def __init__(self, taken: list[str]):
        """``taken``: the input's column names, which no alias may reuse."""
        self._taken = set(taken)
        self._levels: list[list[Column]] = []
        self._field_level: dict[str, int] = {}
        self.aliases: list[str] = []

    def __call__(self, name: str, udf, arg: Column) -> Column:
        # a field's second call (an Option-mapping transform after the fused
        # chain) reads the first one's output, so it runs one projection later
        level = self._field_level.get(name, -1) + 1
        self._field_level[name] = level
        alias = f"_t_{name}"
        while alias in self._taken:
            alias = "_" + alias
        self._taken.add(alias)
        self.aliases.append(alias)
        if level == len(self._levels):
            self._levels.append([])
        self._levels[level].append(udf.asNondeterministic()(arg).alias(alias))
        return F.col(alias)

    def apply(self, df: DataFrame) -> DataFrame:
        for cols in self._levels:
            df = df.select("*", *cols)
        return df


def _apply_transforms(
    s: Column,
    transforms: list[Transform],
    out_ddl: str,
    name: str,
    stage: TransformStage,
) -> Column:
    if not transforms:
        return s
    if builtins.all(t.name != "custom" for t in transforms):
        for t in transforms:
            s = _apply_native_transform(s, t)
        return s
    return stage(name, _fused_pandas_transform(transforms, out_ddl), s)


# ---------------------------------------------------------------------------
# per-kind compilers
# ---------------------------------------------------------------------------


def _compile_string(
    sch: StringSchema,
    col: Column,
    name: str,
    src: T.DataType,
    stage: TransformStage,
) -> CompiledField:
    tn = spark_type_name(src)
    out_ddl = sch.inner_output_type
    cfg = sch.error_config

    # type / coerce stage (string.rs:705-717, coerce 684-698)
    if tn == "String":
        s = col
    elif sch.coerce and tn == "Integer":
        s = col.cast("string")
    elif sch.coerce and tn == "Float":
        s = rust_f64_to_string(col)
    elif sch.coerce and tn == "Boolean":
        s = F.when(col, F.lit("true")).otherwise(F.lit("false"))
    else:
        code, msg = _override(cfg, E.TYPE_ERROR, E.type_error_message("String", tn))
        return _const_field(name, out_ddl, code, msg, "Type")

    checks: list[tuple[Column, Column]] = []  # (fail_cond, violation)

    if sch.has_transforms:
        # TransformedSchema quirk: transforms, then PATTERN ONLY
        # (string.rs:251-283); min/max silently dropped.
        s = _apply_transforms(s, sch.transforms, out_ddl, name, stage)
        if sch.pattern_regex is not None and out_ddl == "string":
            code, msg = _override(
                cfg,
                E.PATTERN_ERROR,
                F.format_string(
                    "Pattern error: '%s' does not match pattern '%s'",
                    s,
                    F.lit(sch.pattern_regex),
                ),
            )
            checks.append((~s.rlike(jvm_regex(sch.pattern_regex)), _viol(name, code, msg, "Pattern")))
    else:
        blen = F.octet_length(s)  # Rust String::len is BYTES
        if sch.min_len is not None:
            code, msg = _override(
                cfg,
                E.MIN_LENGTH_ERROR,
                F.format_string(
                    "Length error: expected at least %s characters, got %s",
                    F.lit(builtins.str(sch.min_len)),
                    blen.cast("string"),
                ),
            )
            checks.append((blen < sch.min_len, _viol(name, code, msg, "MinLength")))
        if sch.max_len is not None:
            code, msg = _override(
                cfg,
                E.MAX_LENGTH_ERROR,
                F.format_string(
                    "Length error: expected at most %s characters, got %s",
                    F.lit(builtins.str(sch.max_len)),
                    blen.cast("string"),
                ),
            )
            checks.append((blen > sch.max_len, _viol(name, code, msg, "MaxLength")))
        if sch.pattern_regex is not None:
            code, msg = _override(
                cfg,
                E.PATTERN_ERROR,
                F.format_string(
                    "Pattern error: '%s' does not match pattern '%s'",
                    s,
                    F.lit(sch.pattern_regex),
                ),
            )
            checks.append((~s.rlike(jvm_regex(sch.pattern_regex)), _viol(name, code, msg, "Pattern")))

    return _finish(name, col, s, checks, sch, out_ddl)


def _rust_f64_parse(col: Column) -> Column:
    """Rust str::parse::<f64> semantics (number.rs:158-165): no surrounding
    whitespace, accepts inf/infinity/nan (any case, signed), plain/scientific
    decimals.  Returns NULL where Rust would return Err."""
    lower = F.lower(col)
    num_re = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"
    return (
        F.when(lower.isin("inf", "+inf", "infinity", "+infinity"), F.lit(float("inf")))
        .when(lower.isin("-inf", "-infinity"), F.lit(float("-inf")))
        .when(lower.isin("nan", "+nan", "-nan"), F.lit(float("nan")))
        .when(col.rlike(num_re), col.cast("double"))
        .otherwise(F.lit(None).cast("double"))
    )


def _compile_number(
    sch: NumberSchema,
    col: Column,
    name: str,
    src: T.DataType,
    stage: TransformStage,
) -> CompiledField:
    tn = spark_type_name(src)
    cfg = sch.error_config
    checks: list[tuple[Column, Column]] = []

    if tn == "Float":
        s = col.cast("double")
    elif sch.coerce:
        if tn == "Integer":
            s = col.cast("double")
        elif tn == "String":
            s = _rust_f64_parse(col)
            code, msg = _override(
                cfg, E.COERCION_ERROR, E.coercion_error_message("String", "Number")
            )
            checks.append((col.isNotNull() & s.isNull(), _viol(name, code, msg, "Coercion")))
        elif tn == "Boolean":
            s = F.when(col, 1.0).otherwise(0.0)
        else:
            code, msg = _override(
                cfg, E.COERCION_ERROR, E.coercion_error_message(tn, "Number")
            )
            return _const_field(name, "double", code, msg, "Coercion")
    else:
        code, msg = _override(cfg, E.TYPE_ERROR, E.type_error_message("Number", tn))
        return _const_field(name, "double", code, msg, "Type")

    s = _apply_transforms(s, sch.transforms, "double", name, stage)
    return _finish(name, col, s, checks, sch, "double")


def _compile_boolean(
    sch: BooleanSchema,
    col: Column,
    name: str,
    src: T.DataType,
    stage: TransformStage,
) -> CompiledField:
    tn = spark_type_name(src)
    cfg = sch.error_config
    coerce_null_to_false = False

    if tn == "Boolean":
        s = col
        # With coercion on, a NULL is Option→None → false (boolean.rs:74-75).
        coerce_null_to_false = sch.coerce
    elif sch.coerce:
        # JS-style truthiness (boolean.rs:264-281)
        if tn == "Integer":
            s = col != 0
        elif tn == "Float":
            s = col != 0.0
        elif tn == "String":
            s = F.octet_length(col) > 0  # "" → false, "false" → true!
        elif isinstance(src, T.ArrayType):
            s = F.size(col) > 0
        else:
            code, msg = _override(
                cfg, E.COERCION_ERROR, E.coercion_error_message(tn, "Boolean")
            )
            return _const_field(name, "boolean", code, msg, "Coercion")
        # Option coercion: None → false (boolean.rs:74-75, tests/coercion:80-81)
        coerce_null_to_false = True
    else:
        code, msg = _override(cfg, E.TYPE_ERROR, E.type_error_message("Boolean", tn))
        return _const_field(name, "boolean", code, msg, "Type")

    if coerce_null_to_false:
        # NULL is the value false, and goes through the transforms as such
        s = F.when(col.isNull(), F.lit(False)).otherwise(s)
    s = _apply_transforms(s, sch.transforms, "boolean", name, stage)
    cf = _finish(name, col, s, [], sch, "boolean")
    if coerce_null_to_false:
        cf = CompiledField(
            name,
            F.when(col.isNull(), s).otherwise(cf.value),
            F.when(col.isNull(), _null_viol()).otherwise(cf.violation),
            "boolean",
            F.when(col.isNull(), F.lit(True)).otherwise(cf.passes),
        )
    return cf


_LIT_TYPE = {str: "String", bool: "Boolean", int: "Integer", float: "Float"}


def _compile_literal(
    sch: LiteralSchema,
    col: Column,
    name: str,
    src: T.DataType,
    stage: TransformStage,
) -> CompiledField:
    tn = spark_type_name(src)
    cfg = sch.error_config
    expected_dbg = E.rust_debug(sch.value)
    want = _LIT_TYPE[type(sch.value)]
    out_ddl = sch.output_type

    if tn != want:
        # Failed downcast: got is Debug of &dyn Any → "Any { .. }"
        # (literal.rs:57-67).
        code, msg = _override(
            cfg, E.LITERAL_ERROR, E.literal_error_message(expected_dbg, "Any { .. }")
        )
        return _const_field(name, out_ddl, code, msg, "Literal")

    if isinstance(sch.value, bool):
        got_dbg = F.when(col, F.lit("true")).otherwise(F.lit("false"))
    elif isinstance(sch.value, str):
        # Rust {:?} quoting; escaping of embedded quotes/backslashes included.
        got_dbg = F.concat(
            F.lit('"'),
            F.regexp_replace(
                F.regexp_replace(col, r"\\", r"\\\\"), '"', '\\\\"'
            ),
            F.lit('"'),
        )
    else:
        got_dbg = col.cast("string")

    code, msg = _override(
        cfg,
        E.LITERAL_ERROR,
        F.format_string(
            "Literal error: expected %s, got %s", F.lit(expected_dbg), got_dbg
        ),
    )
    checks = [(col != F.lit(sch.value), _viol(name, code, msg, "Literal"))]
    return _finish(name, col, col, checks, sch, out_ddl)


def _finish(
    name: str,
    src_col: Column,
    value: Column,
    checks: list[tuple[Column, Column]],
    sch: BaseSchema,
    out_ddl: str,
    missing_cfg: Optional[ErrorConfig] = None,
) -> CompiledField:
    """Assemble the when-chain (first failing check wins) + NULL handling."""
    viol = _null_viol()
    fail_any = F.lit(False)
    if checks:
        chain = None
        for cond, v in checks:
            chain = F.when(cond, v) if chain is None else chain.when(cond, v)
            fail_any = fail_any | F.coalesce(cond, F.lit(False))
        viol = chain.otherwise(_null_viol())

    if sch.nullable:
        # optional(): NULL passes with NULL output (optional.rs:65-98)
        viol = F.when(src_col.isNull(), _null_viol()).otherwise(viol)
        value = F.when(src_col.isNull(), F.lit(None).cast(out_ddl)).otherwise(value)
        passes = F.when(src_col.isNull(), F.lit(True)).otherwise(~fail_any)
    else:
        # NULL in a required column = missing field (object.rs:297-305);
        # uses the OBJECT-level error config, patched in by compile_object.
        code, msg = _override(
            missing_cfg, E.MISSING_FIELD, E.missing_field_message(name)
        )
        viol = F.when(src_col.isNull(), _viol(name, code, msg, "Missing")).otherwise(viol)
        passes = F.when(src_col.isNull(), F.lit(False)).otherwise(~fail_any)

    value = F.when(viol.isNull(), value).otherwise(F.lit(None).cast(out_ddl))
    return CompiledField(name, value, viol, out_ddl, passes)


_COMPILERS = {
    StringSchema: _compile_string,
    NumberSchema: _compile_number,
    BooleanSchema: _compile_boolean,
    LiteralSchema: _compile_literal,
}


def compile_field(
    sch: BaseSchema,
    col: Column,
    name: str,
    src: T.DataType,
    stage: TransformStage,
    missing_cfg: Optional[ErrorConfig] = None,
) -> CompiledField:
    """Compile one field.  Its Python transform calls are registered in
    ``stage`` and the returned columns read their staged outputs, so
    ``stage.apply`` must run on the input first."""
    fn = _COMPILERS.get(type(sch))
    if fn is None:
        raise TypeError(f"cannot compile schema kind {sch.kind!r}")
    cf = fn(sch, col, name, src, stage)
    if sch.nullable:
        # Covers constant-violation fields too (e.g. optional string over a
        # long column): explicit NULL always passes (optional.rs:375-386).
        cf = CompiledField(
            name,
            F.when(col.isNull(), F.lit(None).cast(cf.out_ddl)).otherwise(cf.value),
            F.when(col.isNull(), _null_viol()).otherwise(cf.violation),
            cf.out_ddl,
            F.when(col.isNull(), F.lit(True)).otherwise(cf.passes),
        )
    if missing_cfg is not None and not sch.nullable and not (
        isinstance(sch, BooleanSchema) and sch.coerce
    ):
        # Re-wire the missing-field violation to the object-level config
        # (object.rs:297-305 constructs Missing with the OBJECT's error_config).
        cf = CompiledField(
            name,
            cf.value,
            F.when(
                col.isNull(),
                _viol(name, F.lit(missing_cfg.code), F.lit(missing_cfg.message), "Missing"),
            ).otherwise(cf.violation),
            cf.out_ddl,
            cf.passes,
        )
    if getattr(sch, "opt_transforms", None):
        # Option-mapping transforms (optional.rs:36-47, 56-63): the callable
        # sees None for NULL inputs, so run over every non-violating row.
        out_ddl = sch.opt_transforms[-1].return_type
        udf = _optional_pandas_transform(sch.opt_transforms, out_ddl)
        cf = CompiledField(
            name,
            F.when(cf.violation.isNull(), stage(name, udf, cf.value)).otherwise(
                F.lit(None).cast(out_ddl)
            ),
            cf.violation,
            out_ddl,
            cf.passes,
        )
    return cf


def compile_object(
    obj: ObjectSchema,
    df_schema: T.StructType,
    stage: TransformStage,
) -> list[CompiledField]:
    """Compile every field of an object schema against a DataFrame schema.

    Fields absent from the DataFrame become constant Missing violations
    (compile-time constants — Catalyst folds them); extra DataFrame columns are
    ignored, matching object.rs:269.
    """
    by_name = {f.name: f.dataType for f in df_schema.fields}
    out: list[CompiledField] = []
    for name, sch in obj.fields.items():
        if name not in by_name:
            code, msg = _override(
                obj.error_config, E.MISSING_FIELD, E.missing_field_message(name)
            )
            out.append(
                _const_field(
                    name, getattr(sch, "output_type", "string"), code, msg, "Missing"
                )
            )
            continue
        out.append(
            compile_field(
                sch, F.col(name), name, by_name[name], stage, obj.error_config
            )
        )
    return out
