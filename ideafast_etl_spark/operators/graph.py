"""Distributed graph centrality — deterministic fixed-point PageRank.

Web-graph centrality is a first-class LLM-corpus curation signal (Common
Crawl ranks hosts by centrality; CCNet/RefinedWeb use it as a quality
prior). This implements the classic unnormalised PageRank iteration

    rank' = 0.15 + 0.85 * sum(rank_src / outdeg_src)

Pregel-style over DataFrames: each iteration is one equi-join of the rank
relation to the edge list (keyed by src) plus one aggregation keyed by dst
— the standard distributed formulation, linear per iteration in |E|.

Determinism discipline (shared with clustering/pq): ranks are FIXED-POINT
longs (scale 10^9); per-edge contributions use integer floor division
``rank // outdeg`` and the damping factor applies as ``(85 * x) // 100``.
Integer sums are exactly associative, so ranks are bit-identical under any
partitioning — and expressible in ANSI SQL, so the DuckDB oracle replays
every iteration with unrolled CTEs and must match exactly.

Dangling nodes (no out-edges) absorb rank but redistribute none — the
classic simplification of the original PageRank paper's random-surfer
model; both engines share it, so the oracle still matches bit-for-bit.

At 100 TB: the rank relation is O(|V|) and re-shuffles per iteration on
the node key; the edge list shuffles once per iteration on src (or zero
times if pre-bucketed by src — see operators/bucketing.py). The per-
iteration ``localCheckpoint`` truncates lineage so the plan stays one
iteration deep regardless of iteration count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plan_audit import checkpoints_enabled, materialize, reuse

# AQE's guarded SMJ->SHJ rewrite, scoped to the BFS hop jobs (see
# bfs_hops): convert a runtime sort-merge join to a shuffled-hash join
# only when every post-shuffle partition of the build side is MEASURED
# under this many bytes (Spark default 0 = never convert). 128m keeps the
# per-task hash build far under one task's memory share at the guide's
# 256m advisory partition sizing; "0" disables. Env-tunable for cluster
# runs; the guard itself is what makes the setting scale-safe (a
# 100 TB-sized join's partitions exceed the threshold and keep SMJ's
# graceful spill).
_SHJ_THRESHOLD = os.environ.get(
    "SPARK_GRAFT_SHJ_LOCALMAP_THRESHOLD", str(128 * 1024 * 1024)
)
_SHJ_CONF = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"

PR_SCALE = 1_000_000_000  # fixed-point scale for exact rank sums
PR_DAMPING_NUM = 85  # damping = 0.85 as an integer ratio
PR_DAMPING_DEN = 100
PR_ITERS = 5


def pagerank(
    edges: DataFrame,
    iters: int = PR_ITERS,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list. Returns (node, irank, rank):
    the fixed-point long rank and its float rendering rounded to 6.

    ``edges`` should be pre-deduplicated; parallel edges count once if the
    caller distincts, multiple times otherwise (both deterministic).
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    # Pre-partition on the iteration join key BEFORE caching (the bfs_hops
    # r9 discipline, applied here in r12): the per-iteration e ⋈ ranks is
    # keyed on src, and a cache with unknown partitioning re-exchanges the
    # FULL edge relation every iteration — profiled at 100x sf0.1 as the
    # bulk of each ~9-12 s iteration over 117M cached edge rows. With the
    # cache hash-partitioned by src, only the O(|V|) rank relation
    # shuffles per iteration, and outdeg derives exchange-free (groupBy on
    # the partitioning key).
    base = (PR_DAMPING_DEN - PR_DAMPING_NUM) * PR_SCALE // PR_DAMPING_DEN
    with reuse(  # scanned once per iteration — never recomputed from source
        e.repartition(edges.sparkSession.sparkContext.defaultParallelism, "src")
    ) as e, reuse(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    ) as nodes, reuse(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ) as outdeg:
        ranks = nodes.withColumn("irank", F.lit(PR_SCALE).cast("long"))
        for _ in range(iters):
            contribs = (
                e.join(ranks, e.src == ranks.node)
                .join(outdeg, "src")
                .select(
                    "dst",
                    # exact integral division (both positive) — no float detour
                    F.expr("irank div outdeg").alias("c"),
                )
                .groupBy("dst")
                .agg(F.sum("c").alias("contrib"))
            )
            ranks = materialize(  # |V| rows: truncate lineage
                nodes.join(contribs, nodes.node == contribs.dst, "left")
                .withColumn(
                    "__c", F.coalesce(F.col("contrib"), F.lit(0).cast("long"))
                )
                .select(
                    "node",
                    F.expr(
                        f"CAST({base} AS BIGINT)"
                        f" + (({PR_DAMPING_NUM} * __c) div {PR_DAMPING_DEN})"
                    ).alias("irank"),
                )
            )
    # ranks is checkpointed each iteration, so the cached inputs can go
    return ranks.select(
        "node",
        "irank",
        F.round(F.col("irank") / PR_SCALE, 6).alias("rank"),
    )


def purchase_graph_edges(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Undirected customer–supplier purchase graph from the TPC-H-ish
    fixtures: an edge per distinct (customer, supplier) pair that shares
    an order line, both directions, with the two key spaces disambiguated
    as ``2*custkey`` / ``2*suppkey + 1``."""
    pairs = (
        lineitem.select("l_orderkey", "l_suppkey")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    return pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Minimum-hop BFS from a seed set: (node, hops) for every node
    reachable within ``max_hops``. Pregel frontier expansion — each
    iteration joins ONLY the current frontier (not all visited nodes) to
    the edge list and anti-joins the visited set, so per-iteration work is
    O(edges out of the frontier); integer hop labels make the result
    bit-deterministic under any partitioning. Graph reachability is the
    link-neighbourhood primitive of corpus curation (expand a seed set of
    trusted hosts k hops, as in Common Crawl seed-based crawls).

    ``seeds`` is a 1-column (node) DataFrame. The per-iteration
    ``localCheckpoint`` truncates lineage exactly as ``pagerank`` does;
    under ``plan_audit.no_checkpoints()`` the truncation (and the early
    empty-frontier exit, which would force execution) is skipped so the
    returned Union lineage is the real auditable plan.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    # PRE-PARTITION on the join key unconditionally — audit mode must see
    # the same edge-side plan shape production runs (r9 ADVICE). While
    # the frontier is small each hop's join broadcasts it (observed
    # BroadcastHashJoin — edges never move); once a frontier outgrows the
    # broadcast threshold and AQE falls back to a shuffle join, the
    # cached plan's outputPartitioning already satisfies the edge side's
    # requirement, so only the frontier shuffles — the edge table is
    # never re-shuffled per hop in either regime. Only the persist (an
    # execution-side effect) is skipped in audit mode.
    with reuse(
        e.repartition(edges.sparkSession.sparkContext.defaultParallelism, "src")
    ) as e:
        # The hop loop materializes its work EAGERLY (per-hop localCheckpoint),
        # so a conf scoped around the loop governs exactly the hop jobs and
        # nothing the caller runs afterwards. Allowing AQE's size-guarded
        # SMJ->SHJ rewrite here skips the per-hop sorts on the bounded
        # frontier/visited relations — measured 0.91x warm-median on
        # supplier_reachability across four interleaved same-process A/B runs
        # (tools/ab_shj.py; consistent direction every run, quiet-box pair
        # 2.835 -> 2.577 s). Session-wide the same conf is a wash with mixed
        # per-query signs (minhash +1 job/run, +6%), hence the operator scope;
        # restored in the finally regardless of mode.
        spark = edges.sparkSession
        prev_shj = spark.conf.get(_SHJ_CONF, "0")
        spark.conf.set(_SHJ_CONF, _SHJ_THRESHOLD)
        try:
            visited = materialize(
                seeds.select(F.col(seeds.columns[0]).cast("long").alias("node"))
                .distinct()
                .withColumn("hops", F.lit(0))
            )
            frontier = visited.select("node")
            for i in range(1, max_hops + 1):
                reached = (
                    frontier.join(e, frontier.node == e.src)
                    .select(F.col("dst").alias("node"))
                    .distinct()
                )
                new = materialize(
                    reached.join(visited.select("node"), "node", "left_anti")
                    .withColumn("hops", F.lit(i))
                )  # O(|V|) rows, lineage cut
                # Only the per-hop `new` piece needs the checkpoint: `visited`
                # is then a union of <= max_hops already-checkpointed
                # relations, so its lineage stays one-union-deep per hop and
                # re-checkpointing the union would just be one extra barrier
                # job per hop for the same plan. Likewise the early-exit probe
                # is pointless on the FINAL hop — there is no next iteration
                # to save — so the bounded `isEmpty` job runs only while
                # another hop remains (r12: 7 -> 4 jobs for max_hops=2).
                if checkpoints_enabled() and i < max_hops and new.isEmpty():
                    break
                visited = visited.unionByName(new)
                frontier = new.select("node")
        finally:
            spark.conf.set(_SHJ_CONF, prev_shj)
        return visited
