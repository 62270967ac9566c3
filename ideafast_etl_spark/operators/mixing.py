"""Data-mixture allocation (SURVEY.md §2.13 — LLM-pipeline extension):
distribute a token budget across sources under per-source repetition caps
(the "≤ N epochs per source" rule every large pretraining mix applies —
cf. the Llama/Gopher mixture tables and Muennighoff et al. 2023 on
data-constrained scaling).

The allocation is classic waterfilling: every source gets the same water
level λ, capped at its own capacity ``cap_i = max_epochs · tokens_i``;
λ is the level where ``Σ min(cap_i, λ) = budget``. Closed form by
sorting: with caps ascending, λ_i = (B − Σ_{j≤i} cap_j)/(n − i) is
feasible iff λ_i ≥ cap_i, feasible i form a prefix, and the TRUE
saturated count m is the largest feasible i (λ then lies between cap_m
and cap_{m+1}); when nothing saturates λ = B/n. Two cumulative-window
passes and one conditional aggregate — no iteration.

Scale posture: the per-source count table is bounded (sources/domains,
not documents), so the sort window is over a tiny relation; the only
data-sized work is the upstream keyed aggregation producing the counts.
Determinism: caps and prefix sums are exact integers; λ is one
integer-derived double division — bit-identical in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plan_audit import materialize


def waterfill_allocation(
    counts: DataFrame,
    budget: DataFrame,
    key_col: str = "source",
    tokens_col: str = "tokens",
    max_epochs: int = 4,
    checkpoint: bool = True,
) -> DataFrame:
    """Allocate ``budget`` (a 1-row DataFrame with column ``budget``)
    across the rows of ``counts`` (key, tokens).

    Returns (key, tokens, cap, allocation, epochs): ``allocation =
    min(cap, λ)`` at the waterfill level, ``epochs = allocation/tokens``.
    A budget above total capacity saturates every source (λ_m ≥ cap_n
    falls out of the same prefix rule).

    ``ranked`` (the sorted/cumulated source table) is consumed by the
    saturated-count aggregate, the level join, its uniform-fallback
    branch, and the final projection; without materialization Spark
    re-executes its window chain once per consumer. The relation is
    bounded (sources, not documents), so ``localCheckpoint`` pins it in
    one pass. Pass ``checkpoint=False`` only for plan audits that need
    the un-truncated lineage (tools/explain_plans.py)."""
    base = counts.select(
        F.col(key_col),
        F.col(tokens_col),
        (F.lit(max_epochs) * F.col(tokens_col)).alias("cap"),
    )
    w = Window.orderBy("cap", key_col)  # bounded source table: total order
    ranked = (
        base.withColumn("idx", F.row_number().over(w))
        .withColumn(
            "cum_cap",
            F.sum("cap").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .crossJoin(F.broadcast(budget))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
        .withColumn(
            # guarded: the last row (idx == n) has divisor 0 — its λ_i is
            # never consumed (feasibility requires idx < n) but checkpoint
            # materialization evaluates every column, so NULL it explicitly
            "lam_i",
            F.when(
                F.col("idx") < F.col("n"),
                (F.col("budget") - F.col("cum_cap")).cast("double")
                / (F.col("n") - F.col("idx")).cast("double"),
            ),
        )
        .withColumn(
            "feasible",
            (F.col("idx") < F.col("n"))
            & (F.col("lam_i") >= F.col("cap").cast("double")),
        )
    )
    if checkpoint:
        ranked = materialize(ranked)
    m = ranked.groupBy().agg(
        F.max(F.when(F.col("feasible"), F.col("idx"))).alias("m")
    )
    level = (
        ranked.join(F.broadcast(m), F.col("idx") == F.col("m"))
        .select(F.col("lam_i").alias("level"))
        .union(
            # nothing saturates: uniform budget/n
            ranked.crossJoin(F.broadcast(m))
            .where(F.col("m").isNull() & (F.col("idx") == 1))
            .select(
                (F.col("budget").cast("double") / F.col("n")).alias("level")
            )
        )
    )
    return (
        ranked.crossJoin(F.broadcast(level))
        .withColumn(
            "allocation", F.least(F.col("cap").cast("double"), F.col("level"))
        )
        .select(
            F.col(key_col),
            F.col(tokens_col),
            F.col("cap"),
            F.round("allocation", 6).alias("allocation"),
            F.round(
                F.col("allocation") / F.col(tokens_col).cast("double"), 6
            ).alias("epochs"),
        )
    )
