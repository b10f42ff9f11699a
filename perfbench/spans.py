"""Spans and executed-plan metrics for the traced run.

``Tracer`` records a span around each call into a layer (name, start, end,
parent).  With tracing on it also registers a ``QueryExecutionListener``
through the Py4J callback server, so every SQL execution a span triggers --
``collect``, ``write`` and the checkpoints the library runs internally -- is
attributed to the innermost open span.  ``plan_nodes`` walks each execution's
*final* adaptive plan (``AdaptiveSparkPlanExec.executedPlan`` ->
``QueryStageExec.plan`` -> children) and reads every operator's SQLMetrics.
Reading the final plan matters: the initial adaptive plan carries neither the
runtime join choices nor the codegen stages, and its string form repeats
operators once executed.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class _Listener:
    """Collects the QueryExecution of every finished SQL execution."""

    def __init__(self):
        self.executions = []

    def onSuccess(self, func_name, qe, duration_ns):
        self.executions.append((func_name, qe))

    def onFailure(self, func_name, qe, exception):
        self.executions.append((func_name, qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Records a wall-clock span per layer call; between ``attach`` and
    ``detach`` it also captures the SQL executions each span runs."""

    def __init__(self):
        self.spans = []  # [name, start, end, parent index, pass number]
        self.executions = []  # (span index, func name, QueryExecution)
        self.pass_no = 0  # set by the caller; spans of one pass share it
        self._stack = []
        self._spark = None
        self._listener = None

    def attach(self, spark):
        """Start capturing executions on ``spark`` (traced passes only)."""
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._listener = _Listener()
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self._listener)

    def detach(self):
        if self._listener is not None:
            self._spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.pass_no])
        self._stack.append(idx)
        try:
            yield
        finally:
            if self._listener is not None:
                # listener events arrive asynchronously: drain them so each
                # execution lands on the span that ran it
                self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                captured, self._listener.executions = self._listener.executions, []
                self.executions += [(idx, f, qe) for f, qe in captured]
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def duration(self, name: str, since: int = 0) -> float:
        """Total seconds of spans called ``name`` recorded at or after index ``since``."""
        return sum(e - s for n, s, e, *_ in self.spans[since:] if n == name and e is not None)

    def take_executions(self, since: int = 0) -> list[dict]:
        """Executions of spans recorded at or after index ``since``, each as
        {"span", "func", "plan_ms", "nodes"}; walks the plans and releases
        the JVM objects.  ``plan_ms`` is the optimizer + physical-planning
        time the query planner tracked for that execution."""
        out = []
        for idx, func_name, qe in self.executions:
            if idx < since:
                continue
            phases = qe.tracker().phases()
            plan_ms = sum(
                phases.apply(p).durationMs()
                for p in ("optimization", "planning")
                if phases.contains(p)
            )
            out.append({
                "span": self.spans[idx][0],
                "func": func_name,
                "plan_ms": plan_ms,
                "nodes": plan_nodes(qe.executedPlan()),
            })
            # the gateway pins every object handed to Python until released
            self._spark.sparkContext._gateway.detach(qe)
        self.executions = [e for e in self.executions if e[0] < since]
        return out


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


_KEYED_JOINS = ("SortMergeJoinExec", "ShuffledHashJoinExec", "BroadcastHashJoinExec")


def plan_nodes(plan) -> list[dict]:
    """Every operator of an executed plan with its SQLMetrics.

    Each entry: {"op": simple class name, "out": output attribute names,
    "keys": join keys (joins only), "m": {metric: value}}.  Descends through
    adaptive plans into their final plan and through query stages into the
    stage plans; a reused exchange is skipped, its work is counted where the
    exchange first ran."""
    nodes, stack = [], [plan]
    while stack:
        p = stack.pop()
        op = p.getClass().getSimpleName()
        if op == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if op.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        if op == "ReusedExchangeExec":
            continue
        entry = {"op": op, "out": p.output().mkString(","), "m": _metrics(p)}
        if op in _KEYED_JOINS:
            entry["keys"] = p.leftKeys().mkString(",")
        nodes.append(entry)
        it = p.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return nodes
