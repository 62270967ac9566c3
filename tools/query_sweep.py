"""Time every declared query (one .count() each, warmed session) at a
given SF and print the slowest ones — the measure-first step (guide §1)
for finding which oracle-path queries still dominate the round's latency.

Usage: python tools/query_sweep.py [sf_dir] [top_n]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from ideafast_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 25
    spark = get_spark("query_sweep")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qs = entrymod.queries()
    times: dict[str, float] = {}
    for name, fn in qs.items():
        spark.sparkContext.setJobDescription(f"sweep: {name}")
        t0 = time.monotonic()
        try:
            fn(spark, sf_dir).count()
            times[name] = time.monotonic() - t0
        except Exception as e:
            print(f"SWEEP {name}: FAILED {e}", flush=True)
        spark.sparkContext.setJobDescription(None)
    total = sum(times.values())
    print(f"SWEEP total {total:.1f}s over {len(times)} queries", flush=True)
    for name, dt in sorted(times.items(), key=lambda kv: -kv[1])[:top_n]:
        print(f"SWEEP {dt:7.2f}s  {name}", flush=True)


if __name__ == "__main__":
    main()
