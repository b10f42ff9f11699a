"""Benchmark harness (driver contract).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ...}.  ``$SPARK_GRAFT_CPUS`` defaults to every usable core.

Also times the flagship web_pages constraint plan over a deterministically
generated Common-Crawl-style table (the north-rule workload) and reports its
docs/sec alongside the per-query seconds.  Scaling-efficiency evidence
(local[C/4] vs local[C]) lives in tools/bench_scaling.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
# 1M rows: the flagship projection runs ~1s+, long enough that docs/sec
# measures throughput rather than scheduling noise
WEB_ROWS = int(os.environ.get("SPARK_GRAFT_WEB_ROWS", "1000000"))
# timed value = best of N runs (after the untimed warm-up): single-shot
# timings on this box swing 2-4x with GC/clock state; best-of-3 keeps the
# reported number within ~10% across whole-suite re-runs (measured r3 —
# best-of-2 still swung ~30% on the sub-5s ANN queries)
TIMED_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
# the at-scale headline: run_full over this many generated web_pages rows
# (cached on disk, shared with tools/bench_scaling.py); 0 disables
RUN_FULL_ROWS = int(os.environ.get("SPARK_GRAFT_RUN_FULL_ROWS", "24000000"))
RUN_FULL_DATA = "/tmp/spark_graft_bench/web_pages"

# headline subset of __spark_entry__.queries(): the scale-relevant operators
HEADLINE = [
    "validate_flagship",
    "json_ingest",
    "object_error",
    "verdicts_by_lang",
    "profile_documents",
    "histogram_nchars",
    "dedup_window",
    "orphans_events",
    "fingerprint_dups",
    "psi_drift",
    "text_metrics",
    "minhash_near_dups_fast",
    "simhash_near_dups_fast",
    "cosine_topk",
    "lsh_topk",
    "ivf_topk",
    "embedding_near_dups",
    "dup_ngrams",
    "run_full",
    "web_pages_full_plan",
    "web_extract_text",
    "web_gopher_quality",
    "web_quality_classifier",
]


def _count(df):
    return df.count()


def main():
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from schema_validator_spark.operators import dedup as D
    from schema_validator_spark.session import get_spark
    from schema_validator_spark.sources.webpages import (
        generate_web_pages,
        web_page_schema,
    )
    from schema_validator_spark import ValidationPlan

    spark = get_spark(app_name="bench", cpus=CPUS)
    qs = entrymod.queries()

    def minhash_fast(spark, sf_dir):
        # xxhash64 family — the JVM fast path used at scale
        return D.minhash_near_duplicates(
            entrymod._planted_text_union(spark, sf_dir),
            "doc_id",
            threshold=0.5,
            num_hashes=32,
            bands=8,
            hash_fn="xxhash64",
        )

    web = generate_web_pages(spark, WEB_ROWS).cache()
    n_web = web.count()  # materialize so generation isn't timed
    web_plan = ValidationPlan(web_page_schema())

    def simhash_fast(spark, sf_dir):
        # xxhash64 64-bit family — the JVM fast path (the driver query uses
        # the md5 60-bit family so the whole pipeline is oracle-checkable)
        return D.simhash_near_duplicates(
            entrymod._planted_text_union(spark, sf_dir), "doc_id", max_hamming=3
        )

    def web_full(spark, sf_dir):
        return web_plan.apply(web).agg(
            F.count(F.lit(1)), F.sum(F.col("valid").cast("long"))
        )

    def web_extract(spark, sf_dir):
        # html→text extraction kernel over the 1M-row web table: regex-heavy
        # whole-stage-codegen throughput (the north-rule invariant's operator)
        from schema_validator_spark.sources.webpages import extract_text

        return web.select(
            F.sum(F.octet_length(extract_text(F.col("html")))).alias("bytes_out")
        )

    def web_gopher(spark, sf_dir):
        # Gopher quality gates over the 1M-row crawl text: regex-scan
        # throughput of the cleaning family (aggregated so column pruning
        # can't skip the projection)
        from schema_validator_spark.operators import cleaning as CL

        return CL.gopher_quality(web, "url").agg(
            F.sum(F.col("gopher_pass").cast("long")), F.sum("word_count")
        )

    def web_quality_cls(spark, sf_dir):
        # hashed uni+bigram classifier over the 1M-row crawl text:
        # explode → native xxhash64 weights → map-side-combined agg
        # (the production fast path; md5 stays the driver-oracle family,
        # exactly the minhash fast/oracle split)
        from schema_validator_spark.operators import textquality as TQ

        return TQ.quality_classifier(web, "url", hash_fn="xxhash64").agg(
            F.sum("raw_score"), F.sum("n_features")
        )

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    for name in HEADLINE:
        if name == "minhash_near_dups_fast":
            fn = minhash_fast
        elif name == "simhash_near_dups_fast":
            fn = simhash_fast
        elif name == "web_pages_full_plan":
            fn = web_full
        elif name == "web_extract_text":
            fn = web_extract
        elif name == "web_gopher_quality":
            fn = web_gopher
        elif name == "web_quality_classifier":
            fn = web_quality_cls
        else:
            fn = qs[name]
        # one untimed warm-up run: excludes one-time plan codegen/JIT from the
        # reported number (steady-state throughput is the engine's number;
        # disable with SPARK_GRAFT_BENCH_COLD=1)
        if not os.environ.get("SPARK_GRAFT_BENCH_COLD"):
            _count(fn(spark, SF_DIR))
        best = float("inf")
        for _ in range(TIMED_RUNS):
            t0 = time.time()
            _count(fn(spark, SF_DIR))
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        if os.environ.get("SPARK_GRAFT_BENCH_VERBOSE"):
            print(f"# {name}: {timings[name]}s", file=sys.stderr)

    extras["web_pages_docs_per_sec"] = round(n_web / timings["web_pages_full_plan"], 1)

    if RUN_FULL_ROWS:
        # the at-scale headline: the COMPLETE run_full job (row validation +
        # per-lang verdicts + column profile + unique-url table constraint)
        # over 24M on-disk web_pages rows — big enough that the number is
        # throughput, not scheduling overhead (sf0.1 queries are sub-second)
        import schema_validator_spark as sv

        marker = os.path.join(
            os.path.dirname(RUN_FULL_DATA), f"rows_{RUN_FULL_ROWS}"
        )
        if not (
            os.path.exists(marker)
            and os.path.exists(os.path.join(RUN_FULL_DATA, "_SUCCESS"))
        ):
            generate_web_pages(spark, RUN_FULL_ROWS, num_partitions=128).write.mode(
                "overwrite"
            ).parquet(RUN_FULL_DATA)
            open(marker, "w").write(str(RUN_FULL_ROWS))
        big = spark.read.parquet(RUN_FULL_DATA)
        s = sv.schema()
        big_schema = (
            s.object()
            .field("url", s.string().trim().to_lowercase().url().unique())
            .field("text", s.string().min_length(20).optional())
            .field("lang", s.string().pattern(r"^[a-z]{2}$").optional())
            # aggregate quality gates ride the same run (one extra agg pass)
            .table_check("min_rows", f"count(*) >= {RUN_FULL_ROWS}")
            .table_check(
                "text_null_rate", "avg(cast(text is null as int)) <= 0.05"
            )
        )
        big_plan = ValidationPlan(big_schema)

        def run_full_24m():
            out = big_plan.run_full(
                big, partition_cols=["lang"], profile_columns=["url", "lang"]
            )
            n = sum(r["total_rows"] for r in out["verdicts"].collect())
            out["profile"].collect()
            out["table_violations"].count()
            return n

        n_big = run_full_24m()  # warm-up (also yields the row count)
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            run_full_24m()
            best = min(best, time.time() - t0)
        timings["run_full_24m"] = round(best, 3)
        extras["run_full_24m_docs_per_sec"] = round(n_big / best, 1)

        # ANN kernel at scale (dedup regressions were invisible under the
        # ±25-30% sf0.1 noise floor): MinHash-LSH near-dup candidates over
        # the full 24M-row substrate, xxhash64 fast path.  One timed run —
        # at ~2.5 min/run the number is throughput, not scheduling noise.
        mh_docs = big.select(
            F.xxhash64("url", "warc_ts").alias("doc_id"), "text"
        )
        t0 = time.time()
        D.minhash_near_duplicates(
            mh_docs, "doc_id", threshold=0.5, num_hashes=32, bands=8,
            hash_fn="xxhash64",
        ).count()
        dt = time.time() - t0
        # extras, not timings: the suite-total `value` stays comparable with
        # earlier rounds (a 2.5-min entry would swamp the 30 s suite)
        extras["minhash_24m_sec"] = round(dt, 3)
        extras["minhash_24m_docs_per_sec"] = round(RUN_FULL_ROWS / dt, 1)

        # the other two dedup kernels on the SAME 24M substrate (VERDICT r4
        # #7): all three scale numbers live above the sf0.1 noise floor.
        # combo_blocks=6 (multi-index) is mandatory at this size: single-
        # block 16-bit keys average ~370 entries/bucket at 24M docs — ~17B
        # candidate pairs even under the cap (quadratic in MEAN bucket
        # size, which the cap doesn't touch); 32-bit combo keys don't fill
        t0 = time.time()
        D.simhash_near_duplicates(
            mh_docs, "doc_id", max_hamming=3, hash_fn="xxhash64",
            max_bucket_size=1000, combo_blocks=6,
        ).count()
        dt = time.time() - t0
        extras["simhash_24m_sec"] = round(dt, 3)
        extras["simhash_24m_docs_per_sec"] = round(RUN_FULL_ROWS / dt, 1)

        # containment via the zero-array exploded scale path (the winnow /
        # shingle-array paths pay two interpreted-HOF scans — ~10 min at
        # 24M before any join); tight doc-freq cap — crawl boilerplate
        # keys are quadratic in bucket members otherwise
        t0 = time.time()
        D.containment_pairs(
            mh_docs, "doc_id", threshold=0.9, max_doc_freq=100,
            candidates="exploded",
        ).count()
        dt = time.time() - t0
        extras["containment_24m_sec"] = round(dt, 3)
        extras["containment_24m_docs_per_sec"] = round(RUN_FULL_ROWS / dt, 1)

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        sf = SF_DIR
    print(
        json.dumps(
            {
                "metric": "headline suite wall time (validated docs/sec in queries.web_pages_docs_per_sec)",
                "value": total,
                "unit": "sec",
                "queries": {**timings, **extras},
                "sf": sf,
                "cpus": CPUS,
                "web_rows": n_web,
            }
        )
    )


if __name__ == "__main__":
    main()
