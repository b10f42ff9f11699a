"""Measured evidence for asof_join's skew-sliced plan (VERDICT r4 #9).

Synthesizes a deterministically skewed 24M-row fact table — one "bighost"
key owns ~30% of all rows, the long tail spreads over 10k keys — plus a
dim table of 1k timestamped payload rows per 100 keys, then times the SAME
backward as-of join two ways:

- unsliced (``slice_width=None``): the window partitions by key, so the
  hot key's ~7.2M-row history sorts and scans inside ONE task while 31
  cores idle — the pile-up the sliced plan exists to kill;
- sliced (``slice_width`` sized so the hot key's slices land near shuffle-
  partition row counts): (key, time-slice) window + tiny carry table.

Both variants produce identical results (asserted on a 100k sample join
count up front).  Prints one JSON line with both wall times; the round log
records them.  Usage::

    python tools/asof_skew_probe.py [n_rows]

Substrate sizing: ts = row id (numeric timestamps), so slice_width =
n_rows/30 gives the hot key ~n_rows*0.3/30 rows per slice (~240k at 24M).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from schema_validator_spark.session import get_spark
from schema_validator_spark.operators.temporal import asof_join

N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 24_000_000
N_KEYS = 10_000
DIM_KEYS = 100          # dim covers a subset; uncovered fact keys get NULLs
DIM_TS_PER_KEY = 1_000
HOT_FRACTION = float(os.environ.get("ASOF_HOT_FRACTION", "0.3"))  # of fact rows landing on key 0


def build(spark):
    # ~30% of ids hash into the hot key; the rest spread uniformly
    fact = spark.range(N_ROWS).select(
        F.when(
            F.pmod(F.xxhash64("id"), F.lit(1000)) < int(HOT_FRACTION * 1000),
            F.lit(0),
        )
        .otherwise(F.pmod(F.xxhash64("id", F.lit(1)), F.lit(N_KEYS)))
        .alias("k"),
        F.col("id").cast("double").alias("ts"),
        (F.col("id") % 97).alias("v"),
    )
    step = N_ROWS // DIM_TS_PER_KEY
    dim = spark.range(DIM_KEYS * DIM_TS_PER_KEY).select(
        (F.col("id") % DIM_KEYS).alias("k"),
        ((F.col("id") / DIM_KEYS).cast("long") * step).cast("double").alias("ts"),
        F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("rate"),
    )
    return fact, dim


def main():
    spark = get_spark(app_name="asof_skew_probe")
    spark.sparkContext.setLogLevel("ERROR")
    fact, dim = build(spark)
    slice_width = N_ROWS / 30.0

    # equivalence check on a slice of the substrate (checksum both plans)
    small = fact.where(F.col("ts") < 100_000)
    chk = []
    for sw in (None, 10_000.0):
        j = asof_join(small, dim, "k", "ts", "ts", slice_width=sw)
        chk.append(
            j.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.coalesce("rate", F.lit(0))).alias("s"),
            ).collect()[0]
        )
    assert chk[0] == chk[1], f"sliced != unsliced on sample: {chk}"

    timings = {}
    for name, sw in (("unsliced", None), ("sliced", slice_width)):
        t0 = time.time()
        asof_join(fact, dim, "k", "ts", "ts", slice_width=sw).agg(
            F.sum(F.coalesce("rate", F.lit(0)))
        ).collect()
        timings[f"{name}_sec"] = round(time.time() - t0, 2)

    timings["speedup"] = round(timings["unsliced_sec"] / timings["sliced_sec"], 2)
    print(json.dumps({"probe": "asof_skew", "n_rows": N_ROWS, **timings}))


if __name__ == "__main__":
    main()
