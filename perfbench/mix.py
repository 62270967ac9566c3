"""Analytics mix: seven registered queries over generated tables, read-only.

One client runs passes over the mix in a closed loop, each pass in an order
drawn from the run's seed. Every query's timed action is an
order-insensitive digest of all its output columns (row count plus the
decimal sum of ``xxhash64`` over the columns), so no column can be pruned
away; each digest is compared with the one frozen in ``digests.json`` for
the fixed input tables. Floating-point columns are hashed as text with ten
significant digits, which keeps digests stable when summation order
changes with the core count.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType

import mixdata

from ideafast_etl_spark import queries as _queries
from ideafast_etl_spark import tables

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")
# the tables are fixed so that digests can be frozen; the run's seed
# orders the queries in every pass
DATA_SEED = 20_261_016
SF = 0.01
TINY_SF = 0.001
SETUPS = 3
WARM_PASSES = 1
# Seven of the engine's bench queries, one per kind of work: the scan and
# repartition of a fact table, a star join, the interval-containment join,
# event-time windows, JVM-side text expressions, a BFS loop iterated from
# Python and gap filling. Seven, not more, so that a run fits the
# benchmark's time budget.
MIX = (
    "tpch_q1_pricing_summary",
    "revenue_by_nation",
    "interval_containment_join",
    "sessionization",
    "text_stats",
    "supplier_reachability",
    "timeseries_gapfill",
)
LAYER_UNITS = {"tables.load_s": "s"}
for _q in MIX:
    LAYER_UNITS[f"queries.{_q}_s"] = "s"
    LAYER_UNITS[f"queries.{_q}.jobs"] = "count"


def _as_text(c):
    return F.format_string("%.9e", c)


def _canonical(field):
    c = F.col(f"`{field.name}`")
    t = field.dataType
    if isinstance(t, (DoubleType, FloatType)):
        return _as_text(c)
    if isinstance(t, ArrayType) and isinstance(t.elementType, (DoubleType, FloatType)):
        return F.transform(c, _as_text)
    return c


def digest(df) -> list:
    """``[rows, sum of xxhash64 over all columns]`` of a query result."""
    h = F.xxhash64(*[_canonical(f) for f in df.schema.fields])
    row = df.select(h.cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)), F.sum("h")
    ).collect()[0]
    return [int(row[0]), str(row[1] if row[1] is not None else 0)]


def _setup(spark, work: str, i: int, sf: float) -> tuple[str, float]:
    """Generate the tables into a fresh directory and open them; returns
    the directory and the seconds spent in ``tables.load``."""
    d = os.path.join(work, f"tables{i}")
    shutil.rmtree(d, ignore_errors=True)
    mixdata.generate(d, DATA_SEED, sf)
    t0 = time.perf_counter()
    for name in tables.TABLES:
        tables.load(spark, name, d)
    return d, time.perf_counter() - t0


def run_mix(spark, seed: int, seconds: float, work: str, tracer, tiny: bool,
            freeze: bool) -> dict:
    """Set up ``SETUPS`` times, then run a cold pass and warm passes until
    ``seconds`` have passed, at least ``WARM_PASSES``. ``freeze`` runs one
    pass and returns its digests instead of checking them."""
    sf = TINY_SF if tiny else SF
    setup_s, load_s = [], []
    for i in range(1 if freeze else SETUPS):
        t0 = time.perf_counter()
        data_dir, ld = _setup(spark, work, i, sf)
        setup_s.append(time.perf_counter() - t0)
        load_s.append(ld)
    fns = _queries.all_queries()
    expected = {}
    if not freeze:
        with open(DIGESTS) as fh:
            frozen = json.load(fh)
        expected = frozen["tiny" if tiny else "full"]
    rng = np.random.default_rng(seed)
    passes: list[float] = []
    per_query: dict[str, list[float]] = {q: [] for q in MIX}
    rows = 0
    failures: list[str] = []
    attempted = 0
    first_span = len(tracer.spans)
    t_start = time.perf_counter()
    while len(passes) <= WARM_PASSES or time.perf_counter() - t_start < seconds:
        order = list(MIX) if freeze else [MIX[j] for j in rng.permutation(len(MIX))]
        t_pass = time.perf_counter()
        pass_rows = 0
        for name in order:
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span(f"queries.{name}"):
                    got = digest(fns[name](spark, data_dir))
            except Exception as e:  # a failed query is counted, the mix goes on
                failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            per_query[name].append(time.perf_counter() - t0)
            pass_rows += got[0]
            if freeze:
                expected[name] = got
            elif got != expected.get(name):
                failures.append(f"{name}: digest {got} != frozen {expected.get(name)}")
        passes.append(time.perf_counter() - t_pass)
        if len(passes) > 1:
            rows += pass_rows
        if freeze:
            break
    return {
        "setup_s": statistics.median(setup_s),
        "load_s": statistics.median(load_s),
        "passes": passes,
        "per_query": per_query,
        "rows": rows,
        "attempted": attempted,
        "failures": failures,
        "ops": len(passes),
        "op_log": [round(p, 3) for p in passes],
        "spans": tracer.spans[first_span:],
        "digests": expected,
    }


def metrics(out: dict) -> tuple[dict, dict]:
    warm = out["passes"][1:]
    e2e = {
        "setup_s": out["setup_s"],
        "op_s_p50": statistics.median(warm),
        "cold_op_s": out["passes"][0],
        "rows_per_s": out["rows"] / sum(warm),
    }
    n_warm = max(1, len(warm))
    layers = {"tables.load_s": out["load_s"]}
    jobs: dict[str, int] = {}
    for s in out["spans"]:
        jobs[s.name] = jobs.get(s.name, 0) + s.jobs
    for q, times in out["per_query"].items():
        layers[f"queries.{q}_s"] = statistics.median(times[1:] or times) if times else 0.0
        layers[f"queries.{q}.jobs"] = jobs.get(f"queries.{q}", 0) / (n_warm + 1)
    return e2e, layers
