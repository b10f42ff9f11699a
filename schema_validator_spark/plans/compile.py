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
- One place for value-check semantics: a field compiles as a type/coerce
  stage, then ``_value_checks`` (transforms, length, pattern, literal
  equality, each through ``set_message``), then ``_finish`` (first-failure
  chain, NULL/missing rules, the pure-boolean ``passes``).  Only the
  type/coerce stage is per path: here on the column's static Spark type;
  plans/json.py runs its own on each row's runtime JSON type and reuses the
  rest.
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


def _check(cfg: Optional[ErrorConfig], name: str, cond: Column, code, message, error_type: str):
    """One ``(fail_cond, violation)`` link of a first-failure chain."""
    return cond, _viol(name, *_override(cfg, code, message), error_type)


def _const_field(
    name: str, out_ddl: str, cfg: Optional[ErrorConfig], code, message, error_type: str
) -> CompiledField:
    """A field whose every row fails with the same violation (e.g. static type
    mismatch).  Catalyst constant-folds this to zero per-row work."""
    return CompiledField(
        name,
        F.lit(None).cast(out_ddl),
        _viol(name, *_override(cfg, code, message), error_type),
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
# value checks — shared by the tabular front end below and plans/json.py
# ---------------------------------------------------------------------------


def _bool_str(col: Column) -> Column:
    """Rust's ``bool`` rendering: ``true`` / ``false``."""
    return F.when(col, F.lit("true")).otherwise(F.lit("false"))


def _rust_debug_col(value, col: Column) -> Column:
    """Rust ``{:?}`` of a column holding values of ``value``'s type
    (literal.rs:68-78): strings quoted, embedded quotes/backslashes escaped."""
    if isinstance(value, bool):
        return _bool_str(col)
    if isinstance(value, str):
        return F.concat(
            F.lit('"'),
            F.regexp_replace(F.regexp_replace(col, r"\\", r"\\\\"), '"', '\\\\"'),
            F.lit('"'),
        )
    return col.cast("string")


_LIT_TYPE = {str: "String", bool: "Boolean", int: "Integer", float: "Float"}


def _literal_type_error(sch: LiteralSchema):
    """``(code, message)`` of a literal's failed downcast: got is Debug of
    ``&dyn Any`` → ``Any { .. }`` (literal.rs:57-67)."""
    return E.LITERAL_ERROR, E.literal_error_message(E.rust_debug(sch.value), "Any { .. }")


def _value_checks(
    sch: BaseSchema, s: Column, name: str, stage: TransformStage
) -> tuple[Column, list[tuple[Column, Column]], str]:
    """The checks on a value that passed its type/coerce stage, in the
    reference's order, and the value the field outputs: ``(value, checks,
    out_ddl)``.  Each check is a ``(fail_cond, violation)`` link of the
    field's first-failure chain (``_first_failure``)."""
    cfg = sch.error_config
    if isinstance(sch, LiteralSchema):  # literal.rs:68-78
        got = _rust_debug_col(sch.value, s)
        msg = F.format_string(
            "Literal error: expected %s, got %s", F.lit(E.rust_debug(sch.value)), got
        )
        eq = _check(cfg, name, s != F.lit(sch.value), E.LITERAL_ERROR, msg, "Literal")
        return s, [eq], sch.output_type
    if not isinstance(sch, StringSchema):  # number / boolean: transforms only
        out_ddl = "double" if isinstance(sch, NumberSchema) else "boolean"
        return _apply_transforms(s, sch.transforms, out_ddl, name, stage), [], out_ddl

    out_ddl = sch.inner_output_type
    checks: list[tuple[Column, Column]] = []
    if sch.has_transforms:
        # TransformedSchema quirk: transforms, then PATTERN ONLY
        # (string.rs:251-283); min/max silently dropped.
        s = _apply_transforms(s, sch.transforms, out_ddl, name, stage)
    else:
        blen = F.octet_length(s)  # Rust String::len is BYTES
        if sch.min_len is not None:
            msg = F.format_string(
                "Length error: expected at least %s characters, got %s",
                F.lit(builtins.str(sch.min_len)),
                blen.cast("string"),
            )
            checks.append(_check(cfg, name, blen < sch.min_len, E.MIN_LENGTH_ERROR, msg, "MinLength"))
        if sch.max_len is not None:
            msg = F.format_string(
                "Length error: expected at most %s characters, got %s",
                F.lit(builtins.str(sch.max_len)),
                blen.cast("string"),
            )
            checks.append(_check(cfg, name, blen > sch.max_len, E.MAX_LENGTH_ERROR, msg, "MaxLength"))
    if sch.pattern_regex is not None and out_ddl == "string":
        msg = F.format_string(
            "Pattern error: '%s' does not match pattern '%s'", s, F.lit(sch.pattern_regex)
        )
        fail = ~s.rlike(jvm_regex(sch.pattern_regex))
        checks.append(_check(cfg, name, fail, E.PATTERN_ERROR, msg, "Pattern"))
    return s, checks, out_ddl


def _first_failure(checks: list[tuple[Column, Column]]) -> tuple[Column, Column]:
    """``(violation, fail_any)``: the first failing check's violation (a
    ``F.when`` chain short-circuits) and whether any check failed, as a pure
    boolean (a NULL condition does not fail, as in the chain)."""
    chain, fail_any = None, F.lit(False)
    for cond, v in checks:
        chain = F.when(cond, v) if chain is None else chain.when(cond, v)
        fail_any = fail_any | F.coalesce(cond, F.lit(False))
    return (_null_viol() if chain is None else chain.otherwise(_null_viol())), fail_any


def _finish(
    name: str,
    value: Column,
    checks: list[tuple[Column, Column]],
    out_ddl: str,
    null_passes: Optional[Column],
    missing: Optional[Column],
    missing_cfg: Optional[ErrorConfig] = None,
) -> CompiledField:
    """Assemble a field from its checks.  Rows where ``null_passes`` holds
    pass with a NULL value (optional(), optional.rs:65-98); rows where
    ``missing`` holds fail with MISSING_FIELD under the object-level
    ``missing_cfg`` (object.rs:297-305), ahead of everything else."""
    viol, fail_any = _first_failure(checks)
    passes = ~fail_any
    if null_passes is not None:
        viol = F.when(null_passes, _null_viol()).otherwise(viol)
        value = F.when(null_passes, F.lit(None).cast(out_ddl)).otherwise(value)
        passes = F.when(null_passes, F.lit(True)).otherwise(passes)
    if missing is not None:
        code, msg = _override(missing_cfg, E.MISSING_FIELD, E.missing_field_message(name))
        viol = F.when(missing, _viol(name, code, msg, "Missing")).otherwise(viol)
        passes = F.when(missing, F.lit(False)).otherwise(passes)
    value = F.when(viol.isNull(), value).otherwise(F.lit(None).cast(out_ddl))
    return CompiledField(name, value, viol, out_ddl, passes)


# ---------------------------------------------------------------------------
# tabular type/coerce stage: on the column's static Spark type.  Each returns
# ``(value, checks)``, or a constant field when the type can never pass.
# ---------------------------------------------------------------------------


def _coerce_string(sch: StringSchema, col: Column, name: str, tn: str, src: T.DataType):
    # string.rs:705-717, coerce 684-698
    if tn == "String":
        return col, []
    if sch.coerce and tn == "Integer":
        return col.cast("string"), []
    if sch.coerce and tn == "Float":
        return rust_f64_to_string(col), []
    if sch.coerce and tn == "Boolean":
        return _bool_str(col), []
    return _const_field(
        name, sch.inner_output_type, sch.error_config,
        E.TYPE_ERROR, E.type_error_message("String", tn), "Type",
    )


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


def _coerce_number(sch: NumberSchema, col: Column, name: str, tn: str, src: T.DataType):
    # number.rs:151-188
    cfg = sch.error_config
    if tn == "Float" or (sch.coerce and tn == "Integer"):
        return col.cast("double"), []
    if not sch.coerce:
        return _const_field(
            name, "double", cfg, E.TYPE_ERROR, E.type_error_message("Number", tn), "Type"
        )
    if tn == "String":
        s = _rust_f64_parse(col)
        msg = E.coercion_error_message("String", "Number")
        return s, [_check(cfg, name, col.isNotNull() & s.isNull(), E.COERCION_ERROR, msg, "Coercion")]
    if tn == "Boolean":
        return F.when(col, 1.0).otherwise(0.0), []
    return _const_field(
        name, "double", cfg, E.COERCION_ERROR, E.coercion_error_message(tn, "Number"), "Coercion"
    )


def _coerce_boolean(sch: BooleanSchema, col: Column, name: str, tn: str, src: T.DataType):
    # boolean.rs:259-298
    cfg = sch.error_config
    if tn == "Boolean":
        return col, []
    if not sch.coerce:
        return _const_field(
            name, "boolean", cfg, E.TYPE_ERROR, E.type_error_message("Boolean", tn), "Type"
        )
    # JS-style truthiness (boolean.rs:264-281)
    if tn == "Integer":
        return col != 0, []
    if tn == "Float":
        return col != 0.0, []
    if tn == "String":
        return F.octet_length(col) > 0, []  # "" → false, "false" → true!
    if isinstance(src, T.ArrayType):
        return F.size(col) > 0, []
    return _const_field(
        name, "boolean", cfg, E.COERCION_ERROR, E.coercion_error_message(tn, "Boolean"), "Coercion"
    )


def _coerce_literal(sch: LiteralSchema, col: Column, name: str, tn: str, src: T.DataType):
    # literal.rs:56-67: the downcast needs the literal's exact type
    if tn != _LIT_TYPE[type(sch.value)]:
        return _const_field(
            name, sch.output_type, sch.error_config, *_literal_type_error(sch), "Literal"
        )
    return col, []


_COERCE = {
    StringSchema: _coerce_string,
    NumberSchema: _coerce_number,
    BooleanSchema: _coerce_boolean,
    LiteralSchema: _coerce_literal,
}


def _compile_value(
    sch: BaseSchema, col: Column, name: str, src: T.DataType, stage: TransformStage
) -> CompiledField:
    coerce = _COERCE.get(type(sch))
    if coerce is None:
        raise TypeError(f"cannot compile schema kind {sch.kind!r}")
    typed = coerce(sch, col, name, spark_type_name(src), src)
    if isinstance(typed, CompiledField):
        return typed
    s, checks = typed
    null = col.isNull()
    # With coercion on, a boolean NULL is Option→None → false (boolean.rs:74-75,
    # tests/coercion:80-81), and goes through the transforms as such.
    null_is_false = isinstance(sch, BooleanSchema) and sch.coerce
    if null_is_false:
        s = F.when(null, F.lit(False)).otherwise(s)
    s, more, out_ddl = _value_checks(sch, s, name, stage)
    # tabular NULL: optional() passes it, a required field reports it Missing
    cf = _finish(
        name, s, checks + more, out_ddl,
        null if sch.nullable else None, None if sch.nullable else null,
    )
    if null_is_false:
        cf = CompiledField(
            name,
            F.when(null, s).otherwise(cf.value),
            F.when(null, _null_viol()).otherwise(cf.violation),
            out_ddl,
            F.when(null, F.lit(True)).otherwise(cf.passes),
        )
    return cf


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
    cf = _compile_value(sch, col, name, src, stage)
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
            out.append(
                _const_field(
                    name, getattr(sch, "output_type", "string"), obj.error_config,
                    E.MISSING_FIELD, E.missing_field_message(name), "Missing",
                )
            )
            continue
        out.append(
            compile_field(
                sch, F.col(name), name, by_name[name], stage, obj.error_config
            )
        )
    return out
