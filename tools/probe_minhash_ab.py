"""A/B: HOF-based minhash signature (current) vs explode+hash-agg shape.
Usage: python tools/probe_minhash_ab.py [divisor] [mode: hof|agg|both]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from schema_validator_spark.operators import dedup as D
from schema_validator_spark.session import get_spark


def agg_minhash_pairs(docs, num_hashes=32, bands=8, threshold=0.5):
    rows_per_band = num_hashes // bands
    shingled = D._non_degenerate_text(
        docs.select(F.col("doc_id").alias("_id"), F.col("text").alias("_text"))
    ).select("_id", D.word_shingles(F.col("_text"), 3).alias("_shingles"))
    ex = shingled.select("_id", F.explode("_shingles").alias("_g"))
    sig = ex.groupBy("_id").agg(
        *[F.min(F.xxhash64(F.lit(i), "_g")).alias(f"_h{i}") for i in range(num_hashes)]
    )
    sig = sig.select(
        "_id", F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("_sig")
    )

    def _bucket(b):
        comps = [F.col("_sig")[b * rows_per_band + r] for r in range(rows_per_band)]
        return F.xxhash64(F.lit(b), *comps).cast("string")

    band_entries = sig.select(
        "_id",
        "_sig",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
                for b in range(bands)
            ])
        ).alias("_band"),
    ).select("_id", "_sig", "_band.band", "_band.bucket")
    left, right = band_entries.alias("l"), band_entries.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._sig").alias("sig_a"),
            F.col("r._sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda e: e)
    ) / F.lit(float(num_hashes))
    return pairs.select("id_a", "id_b", est.alias("est_jaccard")).where(
        F.col("est_jaccard") >= threshold
    )


def main():
    div = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    mode = sys.argv[2] if len(sys.argv) > 2 else "both"
    spark = get_spark(app_name="probe_mh_ab")
    big = spark.read.parquet("/tmp/spark_graft_bench/web_pages")
    docs = big.select(F.xxhash64("url", "warc_ts").alias("doc_id"), "text")
    if div > 1:
        docs = docs.where(F.pmod(F.col("doc_id"), F.lit(div)) == 0)
    n = docs.count()
    if mode in ("hof", "both"):
        t0 = time.time()
        p = D.minhash_near_duplicates(
            docs, "doc_id", threshold=0.5, num_hashes=32, bands=8,
            hash_fn="xxhash64",
        ).count()
        dt = time.time() - t0
        print(f"HOF div={div} docs={n} pairs={p} sec={dt:.1f} docs/sec={n/dt:,.0f}", flush=True)
    if mode in ("agg", "both"):
        t0 = time.time()
        p = agg_minhash_pairs(docs).count()
        dt = time.time() - t0
        print(f"AGG div={div} docs={n} pairs={p} sec={dt:.1f} docs/sec={n/dt:,.0f}", flush=True)


if __name__ == "__main__":
    main()
