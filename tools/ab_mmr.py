"""A/B the MMR driver path (VERDICT r10 #4): is the r10 warm drift
(0.87 -> 1.16 s) the Arrow `_collect_tuples` pull, the auto-mode
`cand.count()` job, or environmental? ONE variant per process (JVM
state accumulated across variants in a shared session polluted the
in-session comparison), warm median of 5 after 1 warmup, bench SF.

Usage: python tools/ab_mmr.py <auto|driver|rowcollect|distributed> [sf_dir]
"""

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from ideafast_etl_spark import tables
from ideafast_etl_spark.operators import retrieval
from ideafast_etl_spark.session import get_spark

VARIANT = sys.argv[1]
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"


def row_collect(df):
    return [tuple(r) for r in df.collect()]


def main():
    spark = get_spark("ab_mmr")
    emb = tables.load(spark, "embeddings", SF_DIR).cache()
    emb.count()
    probes = emb.filter(F.col("vec_id") < 5)
    loop = {"rowcollect": "driver"}.get(VARIANT, VARIANT)
    if VARIANT == "rowcollect":
        retrieval._collect_tuples = row_collect

    def run():
        return (
            retrieval.mmr_rerank(emb, probes, k=10, pool=30, loop=loop)
            .orderBy("query_id", "mmr_rank")
            .collect()
        )

    run()  # warmup
    ts = []
    for _ in range(5):
        t0 = time.monotonic()
        run()
        ts.append(time.monotonic() - t0)
    print(
        f"RESULT {VARIANT:12s} median {statistics.median(ts):.3f}s "
        f"min {min(ts):.3f}s"
    )


if __name__ == "__main__":
    main()
