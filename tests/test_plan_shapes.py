"""Physical-plan shape guards — the 100 TB story lives or dies on these.

Each test asserts the property that makes an operator viable at scale
(no shuffle on the row path, violation machinery prunable, broadcast where
broadcast belongs).  A refactor that silently reintroduces an exchange or
un-prunes the struct machinery fails HERE, not in a cluster bill.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from schema_validator_spark import ValidationPlan, schema


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(s: str) -> int:
    # "BroadcastExchange" contains "Exchange"; Reused ones are reuses, not
    # new shuffles
    return (
        s.count("Exchange")
        - s.count("BroadcastExchange")
        - s.count("ReusedExchange")
    )


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_validation_plan_is_single_stateless_projection(spark):
    s = schema()
    plan = ValidationPlan(
        s.object()
        .field("text", s.string().min_length(50))
        .field("lang", s.string().pattern(r"^[a-z]{2}$"))
        .field("source", s.string().username())
    )
    p = _plan(plan.apply(_docs(spark)))
    assert _shuffles(p) == 0, p
    assert "ArrowEvalPython" not in p  # native-only schema → zero Python


def test_verdict_only_plan_prunes_violation_machinery(spark):
    s = schema()
    plan = ValidationPlan(
        s.object()
        .field("text", s.string().min_length(50))
        .field("lang", s.string().pattern(r"^[a-z]{2}$"))
    )
    agg = plan.apply(_docs(spark)).agg(
        F.count(F.lit(1)), F.sum(F.col("valid").cast("long"))
    )
    p = _plan(agg)
    # the violations array, its structs, and message formatting must all be
    # pruned when only `valid` is consumed (pure-boolean conjunction design)
    assert "violations" not in p, p
    assert "format_string" not in p, p


def test_stratified_sample_is_pure_filter(spark):
    from schema_validator_spark.operators import sampling

    out = sampling.sample_stratified(
        _docs(spark), "doc_id", "lang", {"en": 0.5}, default_rate=0.2
    )
    p = _plan(out)
    assert _shuffles(p) == 0, p
    assert p.count("Scan parquet") == 1


def test_ivf_assignment_has_no_shuffle_before_topk(spark):
    from schema_validator_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [
        r["embedding"]
        for r in emb.where(F.col("vec_id") % 31 == 0)
        .orderBy("vec_id")
        .limit(16)
        .collect()
    ]
    out = SIM.ivf_topk(
        emb,
        emb.where(F.col("vec_id") < 5),
        k=10,
        corpus_id="vec_id",
        query_id="vec_id",
        centroids=cents,
    )
    p = _plan(out)
    # corpus: scan → argmin projection → broadcast join; the ONLY shuffle is
    # the final per-query top-k window over the candidate set
    assert _shuffles(p) == 1, p
    assert "BroadcastExchange" in p


def test_broadcast_referential_keeps_fact_side_unshuffled(spark):
    from schema_validator_spark.operators.referential import orphans

    dim = spark.createDataFrame([(f"src{i}",) for i in range(15)], "code string")
    out = orphans(_docs(spark), dim, ["source"], ["code"], strategy="broadcast")
    p = _plan(out)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
    # the FACT side streams straight from the scan into the join (the only
    # permissible shuffle is the dedup of the tiny DIM side pre-broadcast)
    assert _shuffles(p) <= 1, p
    import re

    left_child = p.split("BroadcastHashJoin", 1)[1]
    fact_branch = left_child.split("BroadcastExchange", 1)[0]
    assert "Exchange" not in fact_branch, p
    assert re.search(r"FileScan parquet", fact_branch), p


def test_ivf_centroid_setup_job_counts(spark):
    # explicit centroids: building the ivf plan must run ZERO Spark jobs
    # (the r2 default path cost a full corpus count() before any real work);
    # default centroids: exactly ONE bounded job (TakeOrderedAndProject)
    from schema_validator_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    tracker = spark.sparkContext.statusTracker()

    def n_jobs():
        return len(tracker.getJobIdsForGroup(None) or [])

    cents = [
        r["embedding"]
        for r in emb.orderBy("vec_id").limit(4).select("embedding").collect()
    ]
    before = n_jobs()
    SIM.ivf_topk(emb, q, k=5, centroids=cents, corpus_id="vec_id", query_id="vec_id")
    assert n_jobs() - before == 0

    before = n_jobs()
    SIM.ivf_topk(emb, q, k=5, n_centroids=4, corpus_id="vec_id", query_id="vec_id")
    assert n_jobs() - before == 1


def test_extract_text_is_single_projection(spark):
    # html->text extraction must stay one stateless whole-stage-codegen
    # projection over the scan: no shuffle, no Python, text column pruned
    from schema_validator_spark.sources.webpages import extract_text, generate_web_pages

    web = generate_web_pages(spark, 1000)
    out = web.select("url", extract_text(F.col("html")).alias("t"))
    p = _plan(out)
    assert _shuffles(p) == 0, p
    # no Python eval operators; codegen renders as "*(n)" stage markers
    assert "EvalPython" not in p, p
    assert "*(1)" in p or "WholeStageCodegen" in p, p
    assert p.count("Project") == 1, p


def test_chunk_text_is_zero_shuffle_fanout(spark):
    from schema_validator_spark.operators.textquality import chunk_text

    out = chunk_text(_docs(spark), "doc_id", chunk_chars=128, overlap=32)
    p = _plan(out)
    assert _shuffles(p) == 0, p
    assert "Generate" in p, p  # posexplode fan-out, no exchange


def test_heavy_keys_two_phase_shape(spark):
    from schema_validator_spark.operators.uniqueness import heavy_keys

    out = heavy_keys(_docs(spark), ["source"], min_share=0.01)
    out.collect()  # finalize the adaptive plan so exchange reuse is visible
    p = _plan(out)
    assert "isFinalPlan=true" in p, p
    # the single-row total broadcasts into the share filter, and the counts
    # exchange feeding it is REUSED, not recomputed — the scan and the salted
    # partial aggregation run once
    assert "BroadcastNestedLoopJoin" in p, p
    assert "ReusedExchange" in p or "ReusedSubquery" in p or _shuffles(p) <= 3, p


def test_plan_stats_helper(spark):
    from schema_validator_spark.plans.inspect import plan_stats

    s = schema()
    plan = ValidationPlan(s.object().field("text", s.string().min_length(10)))
    stats = plan_stats(plan.apply(_docs(spark)))
    assert stats["shuffles"] == 0 and stats["python_evals"] == 0
    assert stats["scans"] == 1 and stats["codegen_stages"] >= 1

    from schema_validator_spark.operators.uniqueness import duplicate_keys

    stats = plan_stats(duplicate_keys(_docs(spark), ["source"]))
    assert stats["shuffles"] == 1  # one hash-agg exchange, nothing else


def test_shingle_chain_not_duplicated_into_filters(spark):
    """The normalization regex must appear ONCE per shingle pipeline, in its
    own projection.  InferFiltersFromGenerate + predicate pushdown would
    substitute the whole (interpreted, per-gram re-evaluated) shingle chain
    into scan filters TWICE per row — session.py excludes the rule; this
    guards the exclusion (measured 2.3x on the simhash kernel)."""
    import io
    import contextlib

    from schema_validator_spark.operators import dedup

    for df in (
        dedup.minhash_near_duplicates(_docs(spark), "doc_id", threshold=0.5),
        dedup.simhash_near_duplicates(_docs(spark), "doc_id", max_hamming=3),
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        for block in buf.getvalue().split("\n\n"):
            if block.lstrip().startswith("(") and ") Filter" in block.split("\n")[0]:
                assert "regexp_replace" not in block, block.split("\n")[0]


def test_python_transform_runs_once_under_valid_filters(spark):
    """`where(valid)` and `violations()` push the `valid` filter below the
    validation projection.  The Python transform must still be evaluated by
    ONE Python operator with ONE UDF output, on both the JSON and the
    tabular path, and the JSON parse must not be copied into the filter."""
    import re

    from schema_validator_spark import validate_json_objects
    from schema_validator_spark.plans.inspect import plan_stats

    s = schema()
    obj = (
        s.object()
        .field("user", s.string().trim().transform(str.title).pattern(r"^[A-Z][a-z]+$"))
        .field("age", schema().coerce().number())
    )
    plan = ValidationPlan(obj)
    js = spark.createDataFrame([(1, '{"user":" bob ","age":3}')], "id long, j string")
    tab = spark.createDataFrame([(1, " bob ", 3.0)], "id long, user string, age double")
    for validated in (validate_json_objects(js, "j", obj), plan.apply(tab)):
        for out in (validated.where(F.col("valid")), plan.violations(validated, ["id"])):
            stats = plan_stats(out)
            p = _plan(out)
            assert stats["python_evals"] == 1 and stats["python_udfs"] == 1, p
            for line in p.splitlines():
                if re.match(r"[\s+\-:]*(\*\(\d+\) )?Filter ", line):
                    assert "parseJson" not in line, line


def test_plan_stats_counts_python_udf_outputs(spark):
    # an inline nondeterministic call is evaluated once per reference, inside
    # one operator: python_evals stays 1, python_udfs shows the repeats
    from schema_validator_spark.plans.inspect import plan_stats

    twice = F.pandas_udf(lambda v: v + 1, "long").asNondeterministic()
    df = spark.range(4)
    stats = plan_stats(df.select((twice("id") + twice("id")).alias("x")))
    assert stats["python_evals"] == 1 and stats["python_udfs"] == 2
    stats = plan_stats(df.select(F.pandas_udf(lambda v: v + 1, "long")("id")))
    assert stats["python_evals"] == 1 and stats["python_udfs"] == 1


def test_trim_compiles_to_native_string_trim(spark):
    """`trim()` is Spark's code-point-set StringTrim, not a regex, on both the
    tabular and the JSON path, and never leaves the JVM."""
    from schema_validator_spark import validate_json_objects
    from schema_validator_spark.plans.inspect import plan_stats

    s = schema()
    tab = spark.createDataFrame([(1, " A.example.com ")], "id long, url string")
    js = spark.createDataFrame([(1, '{"url":" x "}')], "id long, j string")
    for out in (
        ValidationPlan(
            s.object().field("url", s.string().trim().to_lowercase().url())
        ).apply(tab),
        validate_json_objects(js, "j", s.object().field("url", s.string().trim())),
    ):
        p = out._jdf.queryExecution().optimizedPlan().toString()
        assert "trim(" in p and "regexp_replace" not in p, p
        assert plan_stats(out)["python_evals"] == 0


def test_json_valid_filter_is_pure_boolean(spark):
    """On the JSON path `valid` is the same pure-boolean conjunction as on the
    tabular path: a `valid` filter holds no higher-order function and no
    `size(` (of the violations array, or of a regex match list)."""
    from schema_validator_spark import validate_json_objects

    s, c = schema(), schema().coerce()
    obj = (
        s.object()
        .field("url", s.string().trim().to_lowercase().url())
        .field("text", s.string().min_length(20).optional())
        .field("age", c.number())
        .field("plan", s.literal("pro"))
    )
    js = spark.createDataFrame([(1, '{"url":"x"}')], "id long, j string")
    out = validate_json_objects(js, "j", obj).where(F.col("valid")).select(*obj.fields)
    stack, filters = [out._jdf.queryExecution().optimizedPlan()], []
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "Filter":
            filters.append(node.condition().toString())
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    assert filters
    for f in filters:
        assert "lambdafunction" not in f and "size(" not in f, f
