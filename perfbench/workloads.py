"""The two workloads: how each opens its input, builds its plan, runs one
pass through the engine's public calls, and checks the outputs against the
generator's ground truth.

A pass rebuilds every DataFrame from the opened input, so no shuffle output
or checkpoint of an earlier pass is reused.  Each call into a layer runs
inside a span named after that layer.  A run makes ``warm`` untimed passes
(the first one cold) and then ``passes`` timed ones: the passes keep
speeding up for several passes after the cold one (JIT), so a fixed count
puts every run's timed passes at the same point of that curve.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from schema_validator_spark import ValidationPlan, schema, validate_json_objects
from schema_validator_spark.operators import dedup as D


@dataclass
class Check:
    """Outcome of checking one pass against the ground truth.

    ``found`` planted defects (or copies) were reported, out of ``planted``;
    the run reported ``reported`` in all.  ``counts`` are outputs the traced
    run shows per layer; a callable value is evaluated only in traced passes."""

    ok: bool
    found: int
    planted: int
    reported: int
    counts: dict = field(default_factory=dict)


def _force_plan(*dfs):
    for df in dfs:
        df._jdf.queryExecution().executedPlan()


# -- validate_scan ------------------------------------------------------------------

class ValidateScan:
    """run_full over web_pages: row validation, per-lang verdicts, profile,
    unique url and table checks.  Aggregates only; no Python, no dedup."""

    name = "validate_scan"
    size = 400_000
    warm = 3
    passes = 5
    PROFILED = ("url", "text", "lang")

    def __init__(self, truth: dict):
        self.truth = truth

    def schema(self):
        s = schema()
        lang_nulls = F.sum(F.col("lang").isNull().cast("long"))
        return (
            s.object()
            .field("url", s.string().trim().to_lowercase().url().unique())
            .field("text", s.string().min_length(20).optional())
            .field("lang", s.string().pattern(r"^[a-z]{2}$").optional())
            .table_check("min_rows", F.count(F.lit(1)) >= 1000)
            .table_check("lang_nulls", lang_nulls <= self.truth["lang_null_cap"], metric=lang_nulls)
        )

    def build(self, df, tr) -> dict:
        with tr.span("compile.build"):
            out = ValidationPlan(self.schema()).run_full(
                df, partition_cols=["lang"], profile_columns=list(self.PROFILED)
            )
        return out

    def setup_plan(self, df, tr):
        out = self.build(df, tr)
        _force_plan(out["verdicts"], out["profile"], out["table_violations"])

    def run_pass(self, df, tr, _scratch) -> dict:
        out = self.build(df, tr)
        with tr.span("runner.verdicts"):
            verdicts = out["verdicts"].collect()
        with tr.span("stats.profile"):
            profile = out["profile"].collect()
        with tr.span("uniqueness.table_violations"):
            table = out["table_violations"].collect()
        return {"verdicts": verdicts, "profile": profile, "table": table}

    def check(self, res: dict) -> Check:
        t = self.truth
        got = {str(r["lang"]): [r["total_rows"], r["passed_rows"]] for r in res["verdicts"]}
        ok = got == t["verdicts"]
        planted_rows = sum(v[0] - v[1] for v in t["verdicts"].values())
        reported_rows = sum(v[0] - v[1] for v in got.values())
        found_rows = sum(
            min(v[0] - v[1], got[k][0] - got[k][1]) for k, v in t["verdicts"].items() if k in got
        )

        (prof,) = res["profile"]
        ok &= prof["row_count"] == t["rows"]
        for c, st in t["profile"].items():
            ok &= all(prof[f"{c}_{k}"] == st[k] for k in ("count", "nulls", "min", "max"))
            # HyperLogLog++ at its default 5% relative standard deviation
            ok &= abs(prof[f"{c}_distinct"] - st["distinct"]) <= 0.15 * st["distinct"] + 1

        dups, checks, other = {}, {}, 0
        for r in res["table"]:
            if r["code"] == "DUPLICATE_KEY" and r["field"] == "url":
                dups[r["key"]] = int(re.search(r"appears (\d+) times", r["message"]).group(1))
            elif r["code"] == "TABLE_CHECK_ERROR":
                checks[r["field"]] = r["key"]
            else:
                other += 1
        ok &= dups == t["dup_urls"] and checks == t["failed_checks"] and other == 0
        found_dups = sum(1 for k, v in dups.items() if t["dup_urls"].get(k) == v)
        found_checks = sum(1 for k, v in checks.items() if t["failed_checks"].get(k) == v)
        return Check(
            ok,
            found_rows + found_dups + found_checks,
            planted_rows + len(t["dup_urls"]) + len(t["failed_checks"]),
            reported_rows + len(dups) + len(checks) + other,
            {"runner.failed_rows": reported_rows, "uniqueness.dup_keys": len(dups)},
        )


# -- ingest_dedup ---------------------------------------------------------------------

class IngestDedup:
    """An ingest pipeline over JSON records: validate_json_objects (with a
    custom Python transform), valid rows and exploded violation rows written
    to parquet, then MinHash LSH candidates over the written valid rows and
    the best record kept per near-duplicate cluster (connected components by
    min-label propagation)."""

    name = "ingest_dedup"
    size = 6_000
    warm = 2
    passes = 2
    THRESHOLD = 0.7
    FIELDS = ("user", "email", "age", "active", "plan", "text", "score")

    def __init__(self, truth: dict):
        self.truth = truth

    def schema(self):
        s, c = schema(), schema().coerce()
        return (
            s.object()
            .field(
                "user",
                # a lambda, so the Python workers receive it by value
                s.string()
                .trim()
                .transform(lambda name: " ".join(w.capitalize() for w in name.split(" ")))
                .pattern(r"^[A-Z][a-z]+( [A-Z][a-z]+)*$"),
            )
            .field("email", s.string().email())
            .field("age", c.number())
            .field("active", c.boolean())
            .field("plan", s.literal("pro"))
            .field("text", s.string())
            .field("score", c.number())
        )

    def build(self, df, tr):
        with tr.span("compile.build"):
            obj = self.schema()
            out = validate_json_objects(df, "payload", obj)
            valid = out.where(F.col("valid")).select("rec_id", *self.FIELDS)
            violations = ValidationPlan(obj).violations(out, ["rec_id"])
        return valid, violations

    def candidates(self, docs):
        return D.minhash_near_duplicates(docs, "rec_id", "text", threshold=self.THRESHOLD)

    def setup_plan(self, df, tr):
        valid, violations = self.build(df, tr)
        _force_plan(valid, violations, self.candidates(valid))

    def run_pass(self, df, tr, scratch: str) -> dict:
        shutil.rmtree(scratch, ignore_errors=True)
        valid_dir = os.path.join(scratch, "valid")
        with tr.span("json.pass"):
            valid, violations = self.build(df, tr)
            with tr.span("sink.write"):
                valid.write.parquet(valid_dir)
                violations.write.parquet(os.path.join(scratch, "violations"))
        with tr.span("dedup.candidates"):
            docs = df.sparkSession.read.parquet(valid_dir)
            # materialized once, as a pipeline would store its candidate
            # pairs before clustering them
            pairs = self.candidates(docs).localCheckpoint()
        with tr.span("dedup.clusters"):
            kept = D.keep_best_per_cluster(docs, pairs, "rec_id", "score")
            rows = kept.select("rec_id", "cluster_id").collect()
        return {"dir": scratch, "pairs": pairs, "kept": rows, "iterations": D.LAST_CC_ITERATIONS}

    def check(self, res: dict) -> Check:
        t = self.truth
        d = res["dir"]
        valid = pq.read_table(os.path.join(d, "valid")).sort_by("rec_id").to_pylist()
        viol = pq.read_table(os.path.join(d, "violations"), columns=["rec_id", "field", "code"])
        shutil.rmtree(d, ignore_errors=True)
        got_valid = [[r["rec_id"], r["user"], r["email"], r["age"], r["active"], r["score"]] for r in valid]
        ok = got_valid == t["valid"] and all(r["plan"] == "pro" for r in valid)
        ok &= gen.text_digest(r["text"] for r in valid) == t["valid_text_sha256"]
        got = set(zip(*(viol.column(c).to_pylist() for c in ("rec_id", "field", "code"))))
        planted = {tuple(v) for v in t["violations"]}
        ok &= got == planted and len(got) == viol.num_rows

        kept = {r["rec_id"]: r["cluster_id"] for r in res["kept"]}
        ok &= len(kept) == len(res["kept"]) and kept == dict(t["kept"])
        removed = {r[0] for r in t["valid"]} - kept.keys()
        copies = set(t["planted_copies"])
        return Check(
            ok,
            len(got & planted) + len(removed & copies),
            len(planted) + len(copies),
            viol.num_rows + len(removed),
            {
                "json.invalid_rows": len({r for r, _, _ in got}),
                "dedup.verified_pairs": res["pairs"].count,
                "dedup.cc_iterations": res["iterations"],
            },
        )


WORKLOADS = {w.name: w for w in (ValidateScan, IngestDedup)}
