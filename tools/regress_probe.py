"""One-off probe for the r1->r2 ANN bench regression.

Times minhash_fast / simhash_fast / cosine_topk in a fresh JVM, optionally
after generating+caching the 1M-row web_pages table first (the bench's r2
environment).  Usage: python tools/regress_probe.py [web_rows]
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WEB_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 0
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    import __spark_entry__ as entrymod
    from schema_validator_spark.operators import dedup as D
    from schema_validator_spark.operators import similarity as SIM
    from schema_validator_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(app_name="probe")
    if WEB_ROWS:
        from schema_validator_spark.sources.webpages import generate_web_pages

        web = generate_web_pages(spark, WEB_ROWS).cache()
        print(f"# cached web rows: {web.count()}", file=sys.stderr)

    def minhash_fast(s, d):
        return D.minhash_near_duplicates(
            entrymod._planted_text_union(s, d), "doc_id",
            threshold=0.5, num_hashes=32, bands=8, hash_fn="xxhash64")

    def simhash_fast(s, d):
        return D.simhash_near_duplicates(
            entrymod._planted_text_union(s, d), "doc_id", max_hamming=3)

    qs = entrymod.queries()
    for name, fn in [("minhash_fast", minhash_fast),
                     ("simhash_fast", simhash_fast),
                     ("cosine_topk", qs["cosine_topk"])]:
        fn(spark, SF_DIR).count()  # warmup
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            fn(spark, SF_DIR).count()
            best = min(best, time.time() - t0)
        print(f"{name}: {best:.3f}s")


if __name__ == "__main__":
    main()
