"""JSON-object ingestion with the reference's dynamic-typing semantics.

Parity target: /root/reference/src/schema/object.rs:201-316 (``validate_json``
+ the field loop).  A JSON document is dynamically typed PER ROW, unlike a
parquet column — so this compiler dispatches each field's checks on the row's
actual JSON type, discovered via Spark 4 VARIANT expressions (all JVM-side:
``try_parse_json`` / ``try_variant_get`` / ``schema_of_variant`` — no Python).

Reference semantics replicated exactly:

- JSON numbers are ALWAYS widened to f64 → runtime type "Float"
  (object.rs:210-213): ``literal(5)`` (i64) never matches a JSON ``5``.
- JSON null → ``None::<()>`` → runtime type "Unknown" for required schemas;
  optional schemas accept it as None (optional.rs:69-71); a coercing boolean
  turns it into ``false`` (boolean.rs:74-75).
- A field holding a JSON array or object — ANY field, schema-declared or not —
  aborts the whole row with ``TYPE_ERROR`` ``expected String, Number, Boolean
  or Null, got Array or Object`` (object.rs:221-229; early return, so no
  per-field errors are reported for such rows).
- Non-object root → ``TYPE_ERROR`` ``expected Object, got Non-object JSON
  value`` (object.rs:234-241); unparseable input → ``expected Object or JSON
  object, got Unknown`` (object.rs:253-259 analog).
- A schema field whose key is absent → ``MISSING_FIELD`` with the object-level
  error config — even for optional fields (object.rs:297-305: presence is
  checked before optional unwrapping; explicit null ≠ missing).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import errors as E
from ..errors import ErrorConfig
from ..plans.compile import (
    VIOLATION_DDL,
    TransformStage,
    jvm_regex,
    _apply_transforms,
    _null_viol,
    _override,
    _rust_f64_parse,
    _viol,
)
from ..plans.runner import VALID_COL, VIOLATIONS_COL
from ..schema import (
    BaseSchema,
    BooleanSchema,
    LiteralSchema,
    NumberSchema,
    ObjectSchema,
    StringSchema,
)

_ARRAY_OR_OBJECT_MSG = (
    "Type error: expected String, Number, Boolean or Null, got Array or Object"
)
_NON_OBJECT_MSG = "Type error: expected Object, got Non-object JSON value"
_UNPARSEABLE_MSG = "Type error: expected Object or JSON object, got Unknown"


def _runtime_type(sub_type: Column) -> Column:
    """Map schema_of_variant output to the reference's runtime type names
    (string.rs:776-782 + the f64 widening of object.rs:210-213)."""
    return (
        F.when(sub_type == "STRING", F.lit("String"))
        .when(sub_type == "BOOLEAN", F.lit("Boolean"))
        .when(sub_type.rlike(r"^(BIGINT|DOUBLE|FLOAT|DECIMAL)"), F.lit("Float"))
        .otherwise(F.lit("Unknown"))  # VOID (json null)
    )


class _JsonField:
    def __init__(self, name, value, violation, out_ddl):
        self.name = name
        self.value = value
        self.violation = violation
        self.out_ddl = out_ddl


def _finish_json(name, sch, present, rt, value, checks, out_ddl, missing_cfg):
    """Assemble violation chain: missing key → (optional? json-null pass) →
    type dispatch results."""
    viol = _null_viol()
    chain = None
    for cond, v in checks:
        chain = F.when(cond, v) if chain is None else chain.when(cond, v)
    if chain is not None:
        viol = chain.otherwise(_null_viol())

    if sch.nullable:
        # optional(): JSON null (runtime Unknown via VOID) passes as None
        # (optional.rs:69-71).  NOTE the reference returns Ok(None) only for
        # Option<()>/None — which is exactly what a JSON null becomes.
        viol = F.when(rt == "Unknown", _null_viol()).otherwise(viol)
        value = F.when(rt == "Unknown", F.lit(None).cast(out_ddl)).otherwise(value)

    # absent key → Missing with the OBJECT-level config (object.rs:297-305),
    # optional or not
    code, msg = _override(missing_cfg, E.MISSING_FIELD, E.missing_field_message(name))
    viol = F.when(~present, _viol(name, code, msg, "Missing")).otherwise(viol)
    value = F.when(viol.isNull(), value).otherwise(F.lit(None).cast(out_ddl))
    return _JsonField(name, value, viol, out_ddl)


def _compile_json_string(sch: StringSchema, name, present, rt, s_str, s_dbl, s_bool, missing_cfg, stage):
    cfg = sch.error_config
    out_ddl = sch.inner_output_type
    checks = []

    # type / coerce stage (string.rs:705-717, 684-698) on the DYNAMIC type
    if sch.coerce:
        from .compile import rust_f64_to_string

        s = (
            F.when(rt == "String", s_str)
            .when(rt == "Float", rust_f64_to_string(s_dbl))
            .when(rt == "Boolean", F.when(s_bool, "true").otherwise("false"))
        )
        bad_type = rt == "Unknown"
    else:
        s = F.when(rt == "String", s_str)
        bad_type = rt != "String"
    code, msg = _override(
        cfg,
        E.TYPE_ERROR,
        F.format_string("Type error: expected String, got %s", rt),
    )
    checks.append((bad_type, _viol(name, code, msg, "Type")))

    if sch.has_transforms:
        s = _apply_transforms(s, sch.transforms, out_ddl, name, stage)
        if sch.pattern_regex is not None and out_ddl == "string":
            code, msg = _override(
                cfg,
                E.PATTERN_ERROR,
                F.format_string(
                    "Pattern error: '%s' does not match pattern '%s'",
                    s, F.lit(sch.pattern_regex),
                ),
            )
            checks.append((~s.rlike(jvm_regex(sch.pattern_regex)), _viol(name, code, msg, "Pattern")))
    else:
        blen = F.octet_length(s)
        if sch.min_len is not None:
            code, msg = _override(
                cfg, E.MIN_LENGTH_ERROR,
                F.format_string(
                    "Length error: expected at least %s characters, got %s",
                    F.lit(str(sch.min_len)), blen.cast("string"),
                ),
            )
            checks.append((blen < sch.min_len, _viol(name, code, msg, "MinLength")))
        if sch.max_len is not None:
            code, msg = _override(
                cfg, E.MAX_LENGTH_ERROR,
                F.format_string(
                    "Length error: expected at most %s characters, got %s",
                    F.lit(str(sch.max_len)), blen.cast("string"),
                ),
            )
            checks.append((blen > sch.max_len, _viol(name, code, msg, "MaxLength")))
        if sch.pattern_regex is not None:
            code, msg = _override(
                cfg, E.PATTERN_ERROR,
                F.format_string(
                    "Pattern error: '%s' does not match pattern '%s'",
                    s, F.lit(sch.pattern_regex),
                ),
            )
            checks.append((~s.rlike(jvm_regex(sch.pattern_regex)), _viol(name, code, msg, "Pattern")))

    return _finish_json(name, sch, present, rt, s, checks, out_ddl, missing_cfg)


def _compile_json_number(sch: NumberSchema, name, present, rt, s_str, s_dbl, s_bool, missing_cfg, stage):
    cfg = sch.error_config
    checks = []
    if sch.coerce:
        parsed = _rust_f64_parse(s_str)
        s = (
            F.when(rt == "Float", s_dbl)
            .when(rt == "String", parsed)
            .when(rt == "Boolean", F.when(s_bool, 1.0).otherwise(0.0))
        )
        code, msg = _override(
            cfg, E.COERCION_ERROR, E.coercion_error_message("String", "Number")
        )
        checks.append(((rt == "String") & parsed.isNull(), _viol(name, code, msg, "Coercion")))
        code, msg = _override(
            cfg, E.COERCION_ERROR,
            F.format_string("Coercion error: cannot convert %s to Number", rt),
        )
        checks.append((rt == "Unknown", _viol(name, code, msg, "Coercion")))
    else:
        s = F.when(rt == "Float", s_dbl)
        code, msg = _override(
            cfg, E.TYPE_ERROR,
            F.format_string("Type error: expected Number, got %s", rt),
        )
        checks.append((rt != "Float", _viol(name, code, msg, "Type")))
    s = _apply_transforms(s, sch.transforms, "double", name, stage)
    return _finish_json(name, sch, present, rt, s, checks, "double", missing_cfg)


def _compile_json_boolean(sch: BooleanSchema, name, present, rt, s_str, s_dbl, s_bool, missing_cfg, stage):
    cfg = sch.error_config
    checks = []
    if sch.coerce:
        # JS truthiness incl. Option-None → false (boolean.rs:264-281, 74-75)
        s = (
            F.when(rt == "Boolean", s_bool)
            .when(rt == "Float", s_dbl != 0.0)
            .when(rt == "String", F.octet_length(s_str) > 0)
            .when(rt == "Unknown", F.lit(False))
        )
    else:
        s = F.when(rt == "Boolean", s_bool)
        code, msg = _override(
            cfg, E.TYPE_ERROR,
            F.format_string("Type error: expected Boolean, got %s", rt),
        )
        checks.append((rt != "Boolean", _viol(name, code, msg, "Type")))
    s = _apply_transforms(s, sch.transforms, "boolean", name, stage)
    f = _finish_json(name, sch, present, rt, s, checks, "boolean", missing_cfg)
    if sch.coerce and not sch.nullable:
        # coercing boolean: json null is a VALUE (false), not a pass-through —
        # but it must not be masked by the Unknown-type checks (there are none
        # for coerce), so nothing extra to do; kept for symmetry/clarity.
        pass
    return f


def _compile_json_literal(sch: LiteralSchema, name, present, rt, s_str, s_dbl, s_bool, missing_cfg, stage):
    cfg = sch.error_config
    expected_dbg = E.rust_debug(sch.value)
    out_ddl = sch.output_type
    # JSON numbers are Float; an i64/f64 literal downcast therefore only
    # succeeds for f64 literals (object.rs:210-213 + literal.rs:56-67)
    if isinstance(sch.value, bool):
        want, val_col = "Boolean", s_bool
        got_dbg = F.when(s_bool, F.lit("true")).otherwise(F.lit("false"))
        lit_val = F.lit(sch.value)
    elif isinstance(sch.value, str):
        want, val_col = "String", s_str
        got_dbg = F.concat(
            F.lit('"'),
            F.regexp_replace(F.regexp_replace(s_str, r"\\", r"\\\\"), '"', '\\\\"'),
            F.lit('"'),
        )
        lit_val = F.lit(sch.value)
    elif isinstance(sch.value, float):
        want, val_col = "Float", s_dbl
        got_dbg = s_dbl.cast("string")
        lit_val = F.lit(sch.value)
    else:  # int literal can never match a JSON number (widened to f64)
        want, val_col = "Integer", F.lit(None).cast("bigint")
        got_dbg = F.lit("Any { .. }")
        lit_val = F.lit(sch.value)

    type_code, type_msg = _override(
        cfg, E.LITERAL_ERROR, E.literal_error_message(expected_dbg, "Any { .. }")
    )
    eq_code, eq_msg = _override(
        cfg, E.LITERAL_ERROR,
        F.format_string("Literal error: expected %s, got %s", F.lit(expected_dbg), got_dbg),
    )
    checks = [
        (rt != want, _viol(name, type_code, type_msg, "Literal")),
        (val_col != lit_val, _viol(name, eq_code, eq_msg, "Literal")),
    ]
    return _finish_json(name, sch, present, rt, val_col, checks, out_ddl, missing_cfg)


_JSON_COMPILERS = {
    StringSchema: _compile_json_string,
    NumberSchema: _compile_json_number,
    BooleanSchema: _compile_json_boolean,
    LiteralSchema: _compile_json_literal,
}


def validate_json_objects(
    df: DataFrame, json_col: str, obj: ObjectSchema, keep_json: bool = False
) -> DataFrame:
    """Validate a JSON-string column against an object schema with the
    reference's per-row dynamic-typing semantics.

    Output contract matches ``ValidationPlan.apply``: one typed column per
    schema field, ``violations: array<struct<field,code,message,error_type>>``, ``valid``;
    other input columns pass through.  Single projection, all JVM-side.
    """
    # Stage the expensive primitives (parse, keys, per-field type + typed
    # extraction) in their own projections so each is evaluated ONCE per row.
    # Inlined into the check expressions they would be recomputed dozens of
    # times (CollapseProject keeps multiply-referenced non-cheap aliases in
    # separate Projects — same pattern as the MinHash shingle fix).
    j0 = F.col(json_col)
    stage1 = df.select(
        "*",
        F.try_parse_json(j0).alias("_v"),
        F.json_object_keys(j0).alias("_keys"),
    )
    stage2_cols = [
        F.schema_of_variant(F.col("_v")).alias("_root_t"),
    ]
    for name in obj.fields:
        path = f"$.{name}"
        sub = F.try_variant_get(F.col("_v"), path, "variant")
        stage2_cols += [
            _runtime_type(F.schema_of_variant(sub)).alias(f"_rt_{name}"),
            F.try_variant_get(F.col("_v"), path, "string").alias(f"_s_{name}"),
            F.try_variant_get(F.col("_v"), path, "double").alias(f"_d_{name}"),
            F.try_variant_get(F.col("_v"), path, "boolean").alias(f"_b_{name}"),
        ]
    staged = stage1.select("*", *stage2_cols)

    root_t = F.col("_root_t")
    keys = F.col("_keys")
    v = F.col("_v")

    # row-level guards (short-circuit the whole row, object.rs:221-241)
    unparseable = v.isNull() | root_t.isNull()
    non_object = ~unparseable & ~root_t.startswith("OBJECT")
    # any field holding an array/object: the root variant schema renders as
    # OBJECT<k1: T1, ...>; a second ARRAY</OBJECT< occurrence means some field
    # is non-scalar.  (A key literally containing "ARRAY<" would false-
    # positive — acceptable for JSON ingested from real sources.)
    has_nested = ~unparseable & ~non_object & (
        F.regexp_count(root_t, F.lit(r"ARRAY<|OBJECT<")) > 1
    )
    cfg = obj.error_config
    u_code, u_msg = _override(cfg, E.TYPE_ERROR, _UNPARSEABLE_MSG)
    n_code, n_msg = _override(cfg, E.TYPE_ERROR, _NON_OBJECT_MSG)
    a_code, a_msg = _override(cfg, E.TYPE_ERROR, _ARRAY_OR_OBJECT_MSG)
    row_viol = (
        F.when(unparseable, _viol(json_col, u_code, u_msg, "Type"))
        .when(non_object, _viol(json_col, n_code, n_msg, "Type"))
        .when(has_nested, _viol(json_col, a_code, a_msg, "Type"))
        .otherwise(_null_viol())
    )
    row_ok = row_viol.isNull()

    # Python transforms run once per row in their own projection on top of
    # the staged primitives; a pushed-down `valid` filter stops above it
    stage = TransformStage(df.columns)
    fields: list[_JsonField] = []
    for name, sch in obj.fields.items():
        compiler = _JSON_COMPILERS.get(type(sch))
        if compiler is None:
            raise TypeError(f"cannot compile schema kind {sch.kind!r} for JSON")
        present = F.array_contains(keys, name)
        rt = F.col(f"_rt_{name}")
        s_str = F.col(f"_s_{name}")
        s_dbl = F.col(f"_d_{name}")
        s_bool = F.col(f"_b_{name}")
        fields.append(
            compiler(sch, name, present, rt, s_str, s_dbl, s_bool, obj.error_config, stage)
        )
    staged = stage.apply(staged)

    passthrough = [c for c in df.columns if c != json_col or keep_json]
    cols = [F.col(c) for c in passthrough]
    for f in fields:
        cols.append(
            F.when(row_ok, f.value).otherwise(F.lit(None).cast(f.out_ddl)).alias(f.name)
        )
    field_viols = F.filter(
        F.array(*[f.violation for f in fields]), lambda x: x.isNotNull()
    )
    viols = F.when(row_ok, field_viols).otherwise(F.array(row_viol))
    cols.append(viols.alias(VIOLATIONS_COL))
    cols.append((F.size(viols) == 0).alias(VALID_COL))
    out = staged.select(*cols)

    # row-level cross-field checks (ObjectSchema.check): on the JSON path the
    # predicate sees the EXTRACTED, typed field columns (there are no input
    # columns to check against) — evaluated in one follow-up projection.
    # NULL predicate = pass, same as the tabular path.
    if getattr(obj, "checks", None):
        check_viols, ok_all = [], F.lit(True)
        for name, pred, code, message in obj.checks:
            pred_col = F.expr(pred) if isinstance(pred, str) else pred
            ok = F.coalesce(pred_col, F.lit(True))
            ok_all = ok_all & ok
            check_viols.append(
                F.when(~ok, _viol(name, code, message, "Check")).otherwise(
                    _null_viol()
                )
            )
        out = out.withColumn(
            VIOLATIONS_COL,
            F.concat(
                F.col(VIOLATIONS_COL),
                F.filter(F.array(*check_viols), lambda x: x.isNotNull()),
            ),
        ).withColumn(VALID_COL, F.col(VALID_COL) & ok_all)
    return out
