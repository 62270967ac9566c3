"""Local replica of the driver's differential-oracle check.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
the given SF, compares row count, schema (column names), and order-insensitive
values (exact, after canonical sorting). Exit code 1 on any mismatch.

Usage: python tools/check_oracle.py [--json PATH] [sf_dir] [query ...]

``--json PATH`` additionally writes the per-query results as a JSON artifact
({name: {status, rows, oracle, seconds}}) — committed at round end as
CORRECTNESS_FULL_r{N}.json so the repo itself substantiates the full query
surface, not just the 50-query sample the driver records (ADVICE r6).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from ideafast_etl_spark.session import get_spark  # noqa: E402
from ideafast_etl_spark.tables import TABLES  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = (
                pd.to_datetime(df[c])
                .dt.tz_localize(None)
                .astype("datetime64[ns]")
            )
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main() -> int:
    argv = list(sys.argv[1:])
    json_path = None
    if argv and argv[0] == "--json":
        json_path = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            results[name] = {"status": f"spark error: {e}"[:200], "oracle": "full"}
            print(f"FAIL {name}: spark error: {e}")
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            results[name] = {
                "status": "ok",
                "rows": len(sdf),
                "oracle": "rows_only",
                "seconds": round(t_spark, 2),
            }
            print(f"SKIP {name}: no oracle (rows-only); rows={len(sdf)} [{t_spark:.1f}s]")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            results[name] = {"status": f"duckdb error: {e}"[:200], "oracle": "full"}
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        s, d = canon(sdf), canon(ddf)
        status = []
        if len(s) != len(d):
            status.append(f"rowcount {len(s)} vs {len(d)}")
        if list(s.columns) != list(d.columns):
            status.append(f"schema {list(s.columns)} vs {list(d.columns)}")
        if not status:
            if len(s) and not s.equals(d):
                # find first differing cell for debugging
                neq = (s != d) & ~(s.isna() & d.isna())
                bad = neq.any(axis=1)
                idx = bad[bad].index[:3].tolist()
                detail = []
                for i in idx:
                    for c in s.columns:
                        if neq.at[i, c]:
                            detail.append(f"row{i} {c}: {s.at[i, c]!r} vs {d.at[i, c]!r}")
                status.append("values differ: " + "; ".join(detail[:6]))
        results[name] = {
            "status": "ok" if not status else "; ".join(status)[:200],
            "rows": len(s),
            "oracle": "full",
            "seconds": round(t_spark, 2),
        }
        if status:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(status)} [{t_spark:.1f}s]")
        else:
            print(f"OK   {name}: rows={len(s)} [{t_spark:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_path:
        import json

        n_full = sum(1 for r in results.values() if r["oracle"] == "full")
        artifact = {
            "sf_dir": sf_dir,
            "n_queries": len(results),
            "n_full_oracles": n_full,
            "n_failures": len(failures),
            "failures": failures,
            "queries": results,
        }
        with open(json_path, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        print(f"wrote {json_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
