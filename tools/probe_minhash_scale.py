"""One-off calibration probe: time minhash_near_duplicates over samples of
the 24M-row bench substrate (/tmp/spark_graft_bench/web_pages) to size the
bench.py minhash-at-scale entry.  Usage: python tools/probe_minhash_scale.py
[divisor ...] (default 16 8 4).
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from schema_validator_spark.operators import dedup as D
from schema_validator_spark.session import get_spark


def main():
    divisors = [int(a) for a in sys.argv[1:]] or [16, 8, 4]
    spark = get_spark(app_name="probe_minhash")
    big = spark.read.parquet("/tmp/spark_graft_bench/web_pages")
    for div in divisors:
        docs = big.select(
            F.xxhash64("url", "warc_ts").alias("doc_id"), "text"
        )
        if div > 1:
            docs = docs.where(F.pmod(F.col("doc_id"), F.lit(div)) == 0)
        n = docs.count()
        t0 = time.time()
        pairs = D.minhash_near_duplicates(
            docs, "doc_id", threshold=0.5, num_hashes=32, bands=8,
            hash_fn="xxhash64",
        ).count()
        dt = time.time() - t0
        print(
            f"divisor={div} docs={n} pairs={pairs} "
            f"sec={dt:.1f} docs/sec={n/dt:,.0f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
