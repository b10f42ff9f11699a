"""Fresh-JVM probe for the run_full_24m bench entry.

The 24M-row run_full reading swings with box thermal state (it sits at the
END of the 25-minute bench suite).  This probe replays EXACTLY bench.py's
run_full_24m section — same cached substrate, same schema/plan, warm-up +
best-of-N — in a fresh JVM so a quiet-box reading can be compared against
the suite-tail one before anyone concludes a regression (CLAUDE.md rule:
never conclude from one run).  Usage: python tools/runfull_probe.py [n_timed]
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_TIMED = int(sys.argv[1]) if len(sys.argv) > 1 else 3


def main():
    import schema_validator_spark as sv
    from schema_validator_spark import ValidationPlan
    from schema_validator_spark.session import get_spark

    data = "/tmp/spark_graft_bench/web_pages"
    if not os.path.isdir(data):
        print(f"no cached substrate at {data} — run bench.py first", file=sys.stderr)
        sys.exit(1)

    spark = get_spark(app_name="runfull_probe")
    big = spark.read.parquet(data)
    n_rows = big.count()
    s = sv.schema()
    big_schema = (
        s.object()
        .field("url", s.string().trim().to_lowercase().url().unique())
        .field("text", s.string().min_length(20).optional())
        .field("lang", s.string().pattern(r"^[a-z]{2}$").optional())
        .table_check("min_rows", f"count(*) >= {n_rows}")
        .table_check("text_null_rate", "avg(cast(text is null as int)) <= 0.05")
    )
    plan = ValidationPlan(big_schema)

    def run_full_24m():
        out = plan.run_full(
            big, partition_cols=["lang"], profile_columns=["url", "lang"]
        )
        n = sum(r["total_rows"] for r in out["verdicts"].collect())
        out["profile"].collect()
        out["table_violations"].count()
        return n

    n_big = run_full_24m()  # warm-up
    times = []
    for _ in range(N_TIMED):
        t0 = time.time()
        run_full_24m()
        times.append(round(time.time() - t0, 3))
    best = min(times)
    print(
        f"rows={n_big} runs={times} best={best} "
        f"docs_per_sec={round(n_big / best, 1)}"
    )


if __name__ == "__main__":
    main()
