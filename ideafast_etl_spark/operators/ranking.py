"""Scale-safe exact global ranking.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY collapses the
whole relation into ONE window partition — the classic local[N]-passes /
cluster-dies pattern. This module computes the identical dense 1-based
global rank distributively:

  1. ``repartitionByRange`` on the order keys (disjoint key ranges per
     partition, Spark's sampled range partitioner);
  2. per-partition counts — a ``spark_partition_id`` aggregate whose
     result is ONE ROW PER PARTITION (bounded by the partition count,
     never by the data), collected and turned into cumulative offsets;
  3. within-partition ``row_number`` (bounded partitions) + offset.

The result is deterministic regardless of where the sampled range
boundaries land, because ranks derive from the total key order, not the
partitioning — provided the order keys are a total order (include a
unique tie-breaker column, e.g. the primary key). The offsets travel as
a tiny broadcast DataFrame joined on ``__pid`` (one row per partition),
NOT as an inline ``create_map`` literal — with thousands of range
partitions a 2xN literal inflates the expression tree and codegen.

Skew caveat: the range partitioner splits on *sampled key boundaries*,
so a single order-key value duplicated millions of times (why the total
-order contract matters) would straddle boundaries nondeterministically
and, with the tie-breaker omitted, both break determinism and funnel
that key's rows into few tasks. With a unique tie-breaker the key space
is continuous and partitions stay balanced.

Reference analog: the reference never ranks globally (Mongo cursors are
paginated); this is infrastructure for the corpus-relative selection ops
(CCNet perplexity terciles, curriculum ordering) that need a total order
at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _range_offsets(
    df: DataFrame, order: list[Column], total: Column, num_partitions: int | None
) -> tuple[DataFrame, DataFrame]:
    """Range-repartition ``df`` on ``order`` (tagging each row with its
    ``__pid``) and return it with ``(__pid, __off)``: the sum of ``total``
    over every lower partition. The per-partition totals are collected —
    one row per partition, bounded by the partition count, not the data."""
    np_ = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(np_, *order).withColumn(
        "__pid", F.spark_partition_id()
    )
    # raw, not plan_audit.materialize: range bounds are re-sampled on every
    # execution, so the offsets hold only for this one — an audit keeps it
    parted = parted.localCheckpoint(eager=True)
    totals = parted.groupBy("__pid").agg(total.alias("__t")).collect()
    rows = []
    acc = 0
    for r in sorted(totals, key=lambda r: r["__pid"]):
        rows.append((r["__pid"], acc))
        acc += r["__t"] or 0
    offsets = df.sparkSession.createDataFrame(
        rows or [(0, 0)], "__pid int, __off long"
    )
    return parted, offsets


def global_rank(
    df: DataFrame,
    order: list[Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add an exact 1-based global rank under ``order`` (must be a total
    order: include a unique key as the last sort column)."""
    parted, offsets = _range_offsets(df, order, F.count(F.lit(1)), num_partitions)
    w = Window.partitionBy("__pid").orderBy(*order)
    return (
        parted.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, (F.col("__off") + F.col("__rn")).cast("long"))
        .drop("__pid", "__rn", "__off")
    )


def global_prefix_sum(
    df: DataFrame,
    order: list[Column],
    value_col: str,
    out_col: str = "prefix_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact running sum of ``value_col`` under a global total ``order`` —
    the sweep-line primitive (concurrency counting, inventory levels,
    cumulative distributions) — with NO single-partition window: range
    repartition on the order, a partition-LOCAL running sum, then each
    partition's starting offset (the prefix of per-partition totals — one
    bounded driver row per partition, exactly ``global_rank``'s offset
    discipline) broadcast back and added. Bit-exact for integer values
    under any layout; ``order`` must be a total order (include a unique
    key last) for deterministic per-row prefixes."""
    parted, offsets = _range_offsets(df, order, F.sum(value_col), num_partitions)
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        parted.withColumn("__ls", F.sum(value_col).over(w))
        .join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__off") + F.col("__ls")).cast("long"))
        .drop("__pid", "__ls", "__off")
    )


def rank_buckets(
    ranked: DataFrame,
    total: int,
    n_buckets: int,
    rank_col: str = "rank",
    bucket_col: str = "bucket",
    labels: list[str] | None = None,
) -> DataFrame:
    """Equal-by-rank buckets: ``bucket = (n_buckets * (rank-1)) div total``
    (0-based), optionally mapped to labels. A pure column expression —
    mirrored verbatim by the SQL oracle, no engine-native NTILE semantics
    to match."""
    b = F.expr(f"({n_buckets} * ({rank_col} - 1)) div {total}").cast("int")
    if labels is not None:
        if len(labels) != n_buckets:
            raise ValueError("labels must match n_buckets")
        expr = F.element_at(F.array(*[F.lit(l) for l in labels]), b + 1)
        return ranked.withColumn(bucket_col, expr)
    return ranked.withColumn(bucket_col, b)


def bounded_topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k per group without sorting a whole group in one task: rank
    within (group, physical partition) first — bounded by the partition
    size — keep k, then rank the <= k x n_partitions survivors per group.
    Identical to a direct per-group row_number()<=k for any total order
    (any group-global top-k row is in its partition's top-k)."""
    pre = (
        df.withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__prn",
            F.row_number().over(
                Window.partitionBy(*group_cols, "__pid").orderBy(*order)
            ),
        )
        .filter(F.col("__prn") <= k)
        .drop("__pid", "__prn")
    )
    return (
        pre.withColumn(
            rank_col,
            F.row_number().over(
                Window.partitionBy(*group_cols).orderBy(*order)
            ),
        )
        .filter(F.col(rank_col) <= k)
    )
