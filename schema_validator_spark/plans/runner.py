"""ValidationPlan — apply a compiled constraint plan to a DataFrame.

One ``select`` projection computes every field's transformed value and every
check's violation struct simultaneously (single-pass; SURVEY.md §4 "what we
must do explicitly").  Output contract per row:

- each schema field column holds the validated/transformed value (NULL if the
  field failed),
- ``violations: array<struct<field,code,message,error_type>>`` holds ALL
  field errors (the reference accumulates across fields, object.rs:288-306);
  ``error_type`` is the logical ErrorType variant, untouched by set_message,
- ``valid: boolean`` = violations is empty,
- non-schema columns pass through untouched (object.rs:269).

``assemble_rows`` builds the violations array and ``valid`` for both
``ValidationPlan.apply`` and ``plans.json.validate_json_objects``.

Per-partition verdict aggregation and metric ``Observation`` (metrics computed
during the same action that materializes the rows — zero extra scans) live
here too.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..errors import OBJECT_ERROR
from ..schema import BaseSchema, ObjectSchema
from .compile import (
    CompiledField,
    TransformStage,
    _null_viol,
    _viol,
    compile_field,
    compile_object,
)

VIOLATIONS_COL = "violations"
VALID_COL = "valid"


class ValidationPlan:
    """Compiled, reusable plan for one object schema."""

    def __init__(self, obj: ObjectSchema):
        self.schema = obj

    # -- row-level ------------------------------------------------------
    def apply(self, df: DataFrame, keep_original: bool = False) -> DataFrame:
        """Validate + transform in one projection (plus one staging
        projection per level of Python transforms, see ``TransformStage``).

        ``keep_original=True`` keeps input columns as ``_raw_<name>`` next to
        the validated outputs (useful for violation triage)."""
        stage = TransformStage(df.columns)
        fields = compile_object(self.schema, df.schema, stage)
        field_names = {f.name for f in fields}
        passthrough = [c for c in df.columns if c not in field_names]

        cols: list[Column] = [F.col(c) for c in passthrough]
        if keep_original:
            cols += [
                F.col(f.name).alias(f"_raw_{f.name}")
                for f in fields
                if f.name in df.columns
            ]
        cols += [f.value.alias(f.name) for f in fields]
        # the row checks (ObjectSchema.check) read the INPUT columns, inside
        # this same projection — zero extra passes
        return assemble_rows(stage.apply(df), cols, fields, self.schema.checks)

    # -- derived outputs -------------------------------------------------
    def violations(
        self, validated: DataFrame, key_cols: Sequence[str] = ()
    ) -> DataFrame:
        """Explode to one row per (input row, failed field): the engine's
        violation sink (SURVEY.md §2.B)."""
        v = F.explode(F.col(VIOLATIONS_COL)).alias("v")
        return validated.where(~F.col(VALID_COL)).select(*key_cols, v).select(
            *key_cols,
            F.col("v.field").alias("field"),
            F.col("v.code").alias("code"),
            F.col("v.message").alias("message"),
            # logical ErrorType variant — survives set_message (error.rs:51-66)
            F.col("v.error_type").alias("error_type"),
        )

    def violations_sample(
        self,
        validated: DataFrame,
        key_cols: Sequence[str],
        per_code: int = 100,
    ) -> DataFrame:
        """Bounded violation triage sample: at 10^12 rows the violations
        table is itself big data, but a human debugging a red verdict needs
        ~100 EXAMPLES per failure code, not 10^10 rows.  Keeps the first
        ``per_code`` violations per (field, code), deterministically ordered
        by the key columns — reproducible across runs and engines.

        Scale shape: the window partitions by (field, code) — cardinality =
        schema size × error kinds, i.e. tiny — and WindowGroupLimit pushes
        the rank filter map-side, so the shuffle carries at most
        per_code × partitions rows."""
        v = self.violations(validated, key_cols)
        from pyspark.sql import Window

        w = Window.partitionBy("field", "code").orderBy(
            *[F.col(k) for k in key_cols]
        )
        return (
            v.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= per_code)
            .select(*key_cols, "field", "code", "message", "error_type",
                    F.col("_rn").cast("int").alias("rn"))
        )

    def object_error(self) -> Column:
        """Row-level OBJECT_ERROR rendering (error.rs:113-117): NULL when the
        row passed, else struct(code, message).  set_message on the object
        replaces both (object.rs:139-149)."""
        cfg = self.schema.error_config
        if cfg is not None:
            code, msg = F.lit(cfg.code), F.lit(cfg.message)
        else:
            code = F.lit(OBJECT_ERROR)
            entries = F.transform(
                F.col(VIOLATIONS_COL),
                lambda v: F.format_string(
                    '("%s", ValidationError { code: "%s", message: "%s" })',
                    v.field,
                    v.code,
                    v.message,
                ),
            )
            msg = F.concat(
                F.lit("Object validation failed: ["),
                F.array_join(entries, ", "),
                F.lit("]"),
            )
        return F.when(
            ~F.col(VALID_COL),
            F.struct(
                code.alias("code"),
                msg.alias("message"),
                F.lit("Object").alias("error_type"),
            ),
        )

    def verdicts(
        self, validated: DataFrame, partition_cols: Sequence[str] = ()
    ) -> DataFrame:
        """Per-partition pass/fail verdict rows.  With no partition columns,
        groups by ``spark_partition_id()`` — one verdict per physical
        partition, the unit of resume (SURVEY.md §2.B)."""
        if partition_cols:
            keys = [F.col(c) for c in partition_cols]
        else:
            keys = [F.spark_partition_id().alias("partition_id")]
        agg = validated.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("total_rows"),
            F.sum(F.col(VALID_COL).cast("long")).alias("passed_rows"),
            F.sum((~F.col(VALID_COL)).cast("long")).alias("failed_rows"),
        )
        return agg.withColumn(
            "pass", F.col("failed_rows") == 0
        )

    # -- table-level constraints (engine extensions, SURVEY.md §2.B) -----
    def table_violations(
        self, df: DataFrame, dims: Optional[dict] = None
    ) -> DataFrame:
        """Violation rows for schema-declared TABLE constraints: ``unique()``
        fields (hash-agg dedup; salted two-phase agg when the field declared
        a skew salt) and ``ref()`` fields (broadcast / shuffle-hash left-anti
        against the dimensions supplied in ``dims``).

        Output: (field, key, code, message) — one row per violating key.
        """
        from ..operators.referential import orphans
        from ..operators.uniqueness import duplicate_counts_salted, duplicate_keys

        dims = dims or {}
        parts = []
        for name, sch in self.schema.fields.items():
            if getattr(sch, "unique_constraint", False):
                if sch.unique_skew_salt:
                    dups = duplicate_counts_salted(
                        df, [name], salt_buckets=sch.unique_skew_salt
                    )
                else:
                    dups = duplicate_keys(df, [name])
                parts.append(
                    dups.select(
                        F.lit(name).alias("field"),
                        F.col(name).cast("string").alias("key"),
                        F.lit("DUPLICATE_KEY").alias("code"),
                        F.format_string(
                            "Uniqueness violation: '%s' appears %s times",
                            F.col(name).cast("string"),
                            F.col("dup_count").cast("string"),
                        ).alias("message"),
                    )
                )
        for name, (dim_name, dim_key, strategy) in self.schema.references.items():
            if dim_name not in dims:
                raise ValueError(
                    f"ref() constraint on {name!r} needs dims[{dim_name!r}]"
                )
            o = orphans(df, dims[dim_name], [name], [dim_key], strategy=strategy)
            parts.append(
                o.select(F.col(name).cast("string").alias("key"))
                .distinct()
                .select(
                    F.lit(name).alias("field"),
                    "key",
                    F.lit("REFERENTIAL_ERROR").alias("code"),
                    F.format_string(
                        "Referential violation: '%s' not found in " + dim_name,
                        F.col("key"),
                    ).alias("message"),
                )
            )
        table_checks = getattr(self.schema, "table_checks", [])
        if table_checks:
            from ..errors import TABLE_CHECK_ERROR

            # ALL declared aggregate gates evaluate in ONE aggregation job
            # (map-side combined); the single result row explodes into one
            # violation row per FAILED check.  NULL predicate = FAIL (an
            # unverifiable gate must not silently pass).
            aggs = []
            for i, (name, pred, metric, code, message) in enumerate(table_checks):
                pred_col = F.expr(pred) if isinstance(pred, str) else pred
                aggs.append(
                    F.coalesce(pred_col, F.lit(False)).alias(f"_tc_ok_{i}")
                )
                m = (
                    (F.expr(metric) if isinstance(metric, str) else metric)
                    if metric is not None
                    else F.lit(None)
                )
                aggs.append(m.cast("string").alias(f"_tc_metric_{i}"))
            entries = F.array(
                *[
                    F.struct(
                        F.lit(name).alias("field"),
                        F.col(f"_tc_metric_{i}").alias("key"),
                        F.lit(code or TABLE_CHECK_ERROR).alias("code"),
                        F.lit(
                            message or f"Table check failed: '{name}'"
                        ).alias("message"),
                        F.col(f"_tc_ok_{i}").alias("_ok"),
                    )
                    for i, (name, pred, metric, code, message) in enumerate(
                        table_checks
                    )
                ]
            )
            parts.append(
                df.agg(*aggs)
                .select(F.explode(entries).alias("e"))
                .where(~F.col("e._ok"))
                .select("e.field", "e.key", "e.code", "e.message")
            )
        if not parts:
            return df.sparkSession.createDataFrame(
                [], "field string, key string, code string, message string"
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    def run_full(
        self,
        df: DataFrame,
        dims: Optional[dict] = None,
        partition_cols: Sequence[str] = (),
        profile_columns: Optional[Sequence[str]] = None,
        sample_keys: Sequence[str] = (),
        sample_per_code: int = 100,
    ) -> dict:
        """The north-star single-schema job: one declared schema → row-level
        validation + per-partition verdicts + single-pass column profile +
        table-level uniqueness/referential violations (+ a bounded
        per-(field,code) violation triage sample when ``sample_keys`` names
        the ordering key columns).

        Returns lazily-evaluated DataFrames: {"validated", "verdicts",
        "profile", "table_violations"[, "violations_sample"]} — the caller
        picks which to materialize; the row-level pieces share one scan via
        the common ``validated`` plan."""
        from ..operators.stats import profile as profile_op

        validated = self.apply(df)
        out = {
            "validated": validated,
            "verdicts": self.verdicts(validated, partition_cols),
            "profile": profile_op(
                df, columns=list(profile_columns or self.schema.fields)
            ),
            "table_violations": self.table_violations(df, dims),
        }
        if sample_keys:
            out["violations_sample"] = self.violations_sample(
                validated, sample_keys, per_code=sample_per_code
            )
        return out

    def validate_as(self, df: DataFrame, keys: Sequence[str] = ()) -> DataFrame:
        """Typed extraction — the analog of ``validate_as::<T>`` /
        ``#[derive(Validate)]`` (object.rs:381-392, mapping.rs:45-57): rows
        that pass validation, projected to exactly the schema's fields (plus
        optional passthrough ``keys``), typed per ``result_type()``.

        Rows with any violation are dropped (the reference returns Err for
        the whole object)."""
        validated = self.apply(df)
        field_cols = [
            F.col(name).cast(getattr(s, "output_type", "string"))
            for name, s in self.schema.fields.items()
        ]
        return validated.where(F.col(VALID_COL)).select(
            *[F.col(k) for k in keys], *field_cols
        )

    def validate_transformed(self, df: DataFrame, keys: Sequence[str] = ()) -> DataFrame:
        """``TransformedObjectSchema::validate`` analog (object.rs:319-332):
        validate the object, then map the validated field map through the
        schema's object-level ``transform``.  Rows with any violation are
        dropped (the reference returns ``Err`` for the whole object before the
        transform ever runs).

        Output: ``keys`` passthrough + one ``transformed`` column typed per
        the transform's declared ``return_type``.  Execution shape is chosen
        by ``ObjectSchema.transform(mode=...)`` — see schema.py.
        """
        obj_t = self.schema.obj_transform
        if obj_t is None:
            raise ValueError("object schema has no transform(); see ObjectSchema.transform")
        names = list(self.schema.fields)
        validated = self.apply(df).where(F.col(VALID_COL))
        mode = self.schema.obj_transform_mode
        rtype = obj_t.return_type
        if mode == "column":
            out = obj_t.fn({n: F.col(n) for n in names}).cast(rtype)
        else:
            out = _object_transform_udf(obj_t.fn, rtype, mode)(
                F.struct(*[F.col(n) for n in names])
            )
        return validated.select(*[F.col(k) for k in keys], out.alias("transformed"))

    def run_with_metrics(
        self, df: DataFrame
    ) -> tuple[DataFrame, Observation]:
        """Attach an Observation so total/passed/failed metrics are collected
        during whichever SINGLE action downstream materializes the result —
        the scan happens exactly once (no second metrics job)."""
        validated = self.apply(df)
        obs = Observation("validation_metrics")
        observed = validated.observe(
            obs,
            F.count(F.lit(1)).alias("total_rows"),
            F.sum(F.col(VALID_COL).cast("long")).alias("passed_rows"),
            F.sum(F.size(F.col(VIOLATIONS_COL))).alias("violation_count"),
        )
        return observed, obs


def _object_transform_udf(fn, return_type: str, mode: str):
    """Build the Arrow-batched pandas UDF for object-level transforms.

    A scalar pandas UDF over a struct column receives each batch as a
    ``pd.DataFrame`` whose columns are the validated fields — the vectorized
    mirror of the reference's ``HashMap<String, Box<dyn Any>>`` input.
    ``mode='row'`` adapts the reference's per-map closure shape: NaN/NaT are
    scrubbed back to None (Option semantics for nullable fields,
    optional.rs:36-47) and dict results become struct rows.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    struct_out = return_type.strip().lower().startswith("struct")

    if mode == "pandas":
        body = fn
    else:

        def body(pdf):
            recs = pdf.astype(object).where(pdf.notna(), None).to_dict("records")
            vals = [fn(r) for r in recs]
            if struct_out:
                if not vals:  # keep the declared struct columns on empty batches
                    from pyspark.sql.types import _parse_datatype_string

                    fields = _parse_datatype_string(return_type).fields
                    return pd.DataFrame({f.name: [] for f in fields})
                return pd.DataFrame(vals)
            return pd.Series(vals)

    # Type-hint inference rejects the DataFrame→DataFrame shape a
    # struct-in/struct-out scalar UDF needs — pass the eval type explicitly.
    import warnings

    from pyspark.sql.functions import PandasUDFType

    def _udf_fn(pdf):
        return body(pdf)

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        udf = pandas_udf(_udf_fn, return_type, PandasUDFType.SCALAR)
    # no filter on the output is pushed below the call, and it is never
    # copied into a second Python eval: the transform runs once per row
    return udf.asNondeterministic()


def _non_null(violations: Column) -> Column:
    return F.filter(violations, lambda v: v.isNotNull())


def assemble_rows(
    df: DataFrame,
    cols: list,
    fields: list[CompiledField],
    checks: Sequence[tuple],
    row_ok: Optional[Column] = None,
    row_viol: Optional[Column] = None,
) -> DataFrame:
    """Project ``df`` to ``cols`` plus the ``violations`` array and the
    ``valid`` flag of ``fields`` and of the row checks ``checks``
    (``ObjectSchema.check``: SQL CHECK semantics, a NULL predicate passes),
    all evaluated over ``df``.  A row where ``row_ok`` is false (the JSON
    path's row-level guards) reports ``row_viol`` in place of its field
    violations; its checks still run.

    ``valid`` is a pure-boolean conjunction, NOT derived from the array:
    plans that consume only ``valid`` — verdict aggregation, a ``valid``
    filter — let Catalyst prune the violation structs and the higher-order
    filter entirely, keeping the projection in whole-stage codegen.
    Equivalence with size(violations)==0 is asserted in tests.  Without
    ``row_ok`` it starts from lit(True), so a zero-field object schema
    validates every row (the reference's empty ObjectSchema accepts any
    map)."""
    valid = F.lit(True) if row_ok is None else row_ok
    for f in fields:
        valid = valid & f.passes
    check_viols = []
    for name, pred, code, message in checks:
        ok = F.coalesce(F.expr(pred) if isinstance(pred, str) else pred, F.lit(True))
        valid = valid & ok
        check_viols.append(F.when(~ok, _viol(name, code, message, "Check")).otherwise(_null_viol()))
    field_viols = [f.violation for f in fields]
    if row_ok is None:
        viols = _non_null(F.array(*field_viols, *check_viols))
    else:
        viols = F.when(row_ok, _non_null(F.array(*field_viols))).otherwise(F.array(row_viol))
        if check_viols:
            viols = F.concat(viols, _non_null(F.array(*check_viols)))
    return df.select(*cols, viols.alias(VIOLATIONS_COL), valid.alias(VALID_COL))


def validate_column(
    df: DataFrame, column: str, sch: BaseSchema, alias: Optional[str] = None
) -> DataFrame:
    """Scalar-schema convenience (reference entry point 1, lib.rs:59-101):
    validate one column, appending ``<alias>`` value + ``violation`` struct."""
    alias = alias or column
    src = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))[column]
    stage = TransformStage(df.columns)
    cf = compile_field(sch, F.col(column), column, src, stage)
    return stage.apply(df).select(
        "*",
        cf.value.alias(f"{alias}_validated"),
        cf.violation.alias(f"{alias}_violation"),
    ).drop(*stage.aliases)
