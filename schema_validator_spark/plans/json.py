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

This module is a thin front end: only the type/coerce stage on the runtime
type is its own.  The value checks, the first-failure chain and the field
record come from plans/compile.py (``_value_checks``, ``_finish``), and the
row assembly (violations array, ``valid``, ``ObjectSchema.check``) from
``plans.runner.assemble_rows`` — the tabular path's builders.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import errors as E
from ..schema import BooleanSchema, LiteralSchema, NumberSchema, ObjectSchema, StringSchema
from .compile import (
    _LIT_TYPE,
    TransformStage,
    _bool_str,
    _check,
    _finish,
    _first_failure,
    _literal_type_error,
    _rust_f64_parse,
    _value_checks,
    rust_f64_to_string,
)
from .runner import assemble_rows

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


# ---------------------------------------------------------------------------
# type/coerce stage on the row's runtime type ``rt``; each returns
# ``(value, checks)`` for compile._value_checks to continue
# ---------------------------------------------------------------------------


def _type_check(sch, name, rt, want: str, bad: Column):
    msg = F.format_string(E.type_error_message(want, "%s"), rt)
    return _check(sch.error_config, name, bad, E.TYPE_ERROR, msg, "Type")


def _json_string(sch: StringSchema, name, rt, s_str, s_dbl, s_bool):
    # string.rs:705-717, 684-698
    if not sch.coerce:
        return F.when(rt == "String", s_str), [_type_check(sch, name, rt, "String", rt != "String")]
    s = (
        F.when(rt == "String", s_str)
        .when(rt == "Float", rust_f64_to_string(s_dbl))
        .when(rt == "Boolean", _bool_str(s_bool))
    )
    return s, [_type_check(sch, name, rt, "String", rt == "Unknown")]


def _json_number(sch: NumberSchema, name, rt, s_str, s_dbl, s_bool):
    if not sch.coerce:
        return F.when(rt == "Float", s_dbl), [_type_check(sch, name, rt, "Number", rt != "Float")]
    parsed = _rust_f64_parse(s_str)
    s = (
        F.when(rt == "Float", s_dbl)
        .when(rt == "String", parsed)
        .when(rt == "Boolean", F.when(s_bool, 1.0).otherwise(0.0))
    )
    cfg, code = sch.error_config, E.COERCION_ERROR
    unknown = F.format_string(E.coercion_error_message("%s", "Number"), rt)
    return s, [
        _check(cfg, name, (rt == "String") & parsed.isNull(), code,
               E.coercion_error_message("String", "Number"), "Coercion"),
        _check(cfg, name, rt == "Unknown", code, unknown, "Coercion"),
    ]


def _json_boolean(sch: BooleanSchema, name, rt, s_str, s_dbl, s_bool):
    if not sch.coerce:
        return F.when(rt == "Boolean", s_bool), [_type_check(sch, name, rt, "Boolean", rt != "Boolean")]
    # JS truthiness incl. Option-None → false (boolean.rs:264-281, 74-75)
    s = (
        F.when(rt == "Boolean", s_bool)
        .when(rt == "Float", s_dbl != 0.0)
        .when(rt == "String", F.octet_length(s_str) > 0)
        .when(rt == "Unknown", F.lit(False))
    )
    return s, []


def _json_literal(sch: LiteralSchema, name, rt, s_str, s_dbl, s_bool):
    # JSON numbers are Float, so an i64 literal's downcast never succeeds
    # (object.rs:210-213 + literal.rs:56-67)
    want = _LIT_TYPE[type(sch.value)]
    val = {"String": s_str, "Float": s_dbl, "Boolean": s_bool}.get(want, F.lit(None).cast("bigint"))
    return val, [_check(sch.error_config, name, rt != want, *_literal_type_error(sch), "Literal")]


_JSON_COERCE = {
    StringSchema: _json_string,
    NumberSchema: _json_number,
    BooleanSchema: _json_boolean,
    LiteralSchema: _json_literal,
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
    # positive — acceptable for JSON ingested from real sources.)  An rlike,
    # not a regexp_count: a `valid` filter stays free of array expressions.
    has_nested = ~unparseable & ~non_object & root_t.rlike(
        r"(?s)(ARRAY<|OBJECT<).*(ARRAY<|OBJECT<)"
    )
    cfg = obj.error_config
    row_viol, _ = _first_failure([
        _check(cfg, json_col, cond, E.TYPE_ERROR, msg, "Type")
        for cond, msg in [
            (unparseable, _UNPARSEABLE_MSG),
            (non_object, _NON_OBJECT_MSG),
            (has_nested, _ARRAY_OR_OBJECT_MSG),
        ]
    ])
    row_ok = row_viol.isNull()

    # Python transforms run once per row in their own projection on top of
    # the staged primitives; a pushed-down `valid` filter stops above it
    stage = TransformStage(df.columns)
    fields = []
    for name, sch in obj.fields.items():
        coerce = _JSON_COERCE.get(type(sch))
        if coerce is None:
            raise TypeError(f"cannot compile schema kind {sch.kind!r} for JSON")
        rt = F.col(f"_rt_{name}")
        s, checks = coerce(
            sch, name, rt, F.col(f"_s_{name}"), F.col(f"_d_{name}"), F.col(f"_b_{name}")
        )
        s, more, out_ddl = _value_checks(sch, s, name, stage)
        # JSON null is runtime type Unknown, which optional() passes
        # (optional.rs:69-71); an absent key is Missing under the object's
        # config, optional or not (object.rs:297-305)
        fields.append(_finish(
            name, s, checks + more, out_ddl,
            (rt == "Unknown") if sch.nullable else None,
            ~F.array_contains(keys, name), cfg,
        ))
    staged = stage.apply(staged)

    # the typed field values under their own names: the row checks
    # (ObjectSchema.check) read them, as there are no input columns to check
    typed = staged.select(
        *[c for c in staged.columns if c not in obj.fields],
        *[F.when(row_ok, f.value).otherwise(F.lit(None).cast(f.out_ddl)).alias(f.name)
          for f in fields],
    )
    passthrough = [
        c for c in df.columns if (c != json_col or keep_json) and c not in obj.fields
    ]
    return assemble_rows(typed, [*passthrough, *obj.fields], fields, obj.checks, row_ok, row_viol)
