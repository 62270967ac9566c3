"""A/B the AQE runtime SMJ->SHJ rewrite (guide 3.1 / 9; OPTIMIZATION_r12
"not yet optimized" item): ``spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold``
is a RUNTIME conf — 0 (off, Spark default) vs 128m — so one session can
interleave variants A/B/A/B... per query, which keeps JVM/codegen state
symmetric between variants (the ab_mmr.py lesson) while still being a
same-process pair (the REPRO.md lesson). Static plans are untouched (AQE
rewrites happen after the audited explain), so PLANS.md stays byte-stable
by construction; this tool also asserts the query RESULT is identical
under both settings (sorted-row hash) before timing.

Usage: python tools/ab_shj.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from ideafast_etl_spark.session import get_spark  # noqa: E402

CONF = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
OFF, ON = "0", str(128 * 1024 * 1024)

# Every declared query whose audited plan carries a SortMergeJoin
# (grep of PLANS.md), restricted to the ones that run at the bench SF in
# seconds; ivfpq/hotsplit are A/B'd separately at sf0.01 (oracle-path SF).
DEFAULT_QUERIES = [
    "supplier_reachability",
    "mmr_diversified_topk",
    "hybrid_retrieval_rrf",
    "promo_supplier_candidates",
    "tpch_q20_excess_inventory_suppliers",
    "embedding_topk_ivf",
]


def result_hash(df) -> str:
    rows = sorted(tuple(str(v) for v in r) for r in df.collect())
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or DEFAULT_QUERIES
    rounds = 5  # timed pairs per query (after one warmup per variant)
    spark = get_spark("ab_shj")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qs = entrymod.queries()
    for name in names:
        fn = qs[name]
        # equality gate first: identical sorted-row hash under both settings
        spark.conf.set(CONF, OFF)
        h_off = result_hash(fn(spark, sf_dir))
        spark.conf.set(CONF, ON)
        h_on = result_hash(fn(spark, sf_dir))
        if h_off != h_on:
            print(f"RESULT {name}: MISMATCH off={h_off} on={h_on}")
            continue
        # interleaved warm timing: one warmup pair, then `rounds` A/B pairs
        times: dict[str, list[float]] = {OFF: [], ON: []}
        for i in range(rounds + 1):
            # alternate within-pair order so monotone box drift (e.g. page
            # reclaim decay after a prior JVM) cancels instead of biasing
            # whichever variant always ran first
            order = (OFF, ON) if i % 2 == 0 else (ON, OFF)
            for setting in order:
                spark.conf.set(CONF, setting)
                t0 = time.monotonic()
                fn(spark, sf_dir).count()
                dt = time.monotonic() - t0
                if i > 0:
                    times[setting].append(dt)
        off_med = statistics.median(times[OFF])
        on_med = statistics.median(times[ON])
        print(
            f"RESULT {name}: off(SMJ) median {off_med:.3f}s "
            f"min {min(times[OFF]):.3f}s | on(SHJ@128m) median {on_med:.3f}s "
            f"min {min(times[ON]):.3f}s | ratio {on_med / off_med:.3f} "
            f"| hash {h_off}"
        )
    spark.conf.set(CONF, OFF)


if __name__ == "__main__":
    main()
