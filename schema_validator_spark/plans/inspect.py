"""Physical-plan inspection helpers — make the 100 TB questions askable in
code: how many shuffles does this plan pay, does the small side broadcast,
did column pruning reach the scan?

These power the repo's plan-shape regression tests (tests/test_plan_shapes.py)
and are public so downstream pipelines can gate deploys on the same
properties ("this nightly job must never grow a second shuffle").
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    """The executed physical plan as text (same content as
    ``df.explain()`` prints, returned instead of printed)."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_nodes(df: DataFrame):
    """The JVM operators of the executed physical plan, descending through
    an adaptive plan into its current plan and through query stages into
    their plans."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        op = node.getClass().getSimpleName()
        if op == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif op.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            yield node
            it = node.children().iterator()
            while it.hasNext():
                stack.append(it.next())


def plan_stats(df: DataFrame) -> dict:
    """Counts of the plan operators that dominate cost at scale.

    ``shuffles`` counts real data exchanges only — broadcast and reused
    exchanges are separate entries (a ReusedExchange is a pointer, not a
    second shuffle; a BroadcastExchange ships the small side, not the data).
    ``python_evals`` counts row/Arrow Python operators — anything > 0 means
    part of the plan fell out of the JVM.  ``python_udfs`` counts the UDF
    outputs of those operators: one operator can evaluate the same call
    several times (a nondeterministic call is never deduplicated), which
    the operator count alone does not show.
    """
    p = plan_string(df)
    python_udfs = sum(
        n.udfs().size()
        for n in plan_nodes(df)
        if n.getClass().getSimpleName().endswith("EvalPythonExec")
    )
    return {
        "shuffles": (
            p.count("Exchange")
            - p.count("BroadcastExchange")
            - p.count("ReusedExchange")
        ),
        "broadcasts": p.count("BroadcastExchange"),
        "reused_exchanges": p.count("ReusedExchange"),
        "scans": p.count("FileScan"),
        "python_evals": p.count("EvalPython"),
        "python_udfs": python_udfs,
        "generates": p.count("Generate"),
        "sorts": p.count("Sort "),
        "codegen_stages": p.count("WholeStageCodegen") + p.count("*("),
    }
