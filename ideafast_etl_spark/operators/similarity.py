"""Similarity search over embedding columns (SURVEY.md §2.13).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed variant is
the 100 TB scale path (candidate generation becomes an equi-join on bucket
signature instead of a cross join).

All arithmetic is done in float64 with a fixed left-to-right summation order
(``F.aggregate`` over the zipped arrays) so the DuckDB oracle — summing with
the same ordering via ``list_dot_product`` on DOUBLE[] — produces bit-identical
results; outputs round similarities to 6 decimals as a belt-and-braces guard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plan_audit import checkpoints_enabled, materialize, reuse


def dot(a: Column, b: Column) -> Column:
    """Float64 dot product with left-to-right summation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def unit_normalized(df: DataFrame, id_alias: str, vec_col: str, out_vec: str) -> DataFrame:
    """(id, unit-vector) with the norm materialised ONCE per vector — cosine
    between unit vectors is then a single dot product per pair instead of
    three aggregates (dot + two norms). The norm must be a real column, not
    an inline expression: embedding it in the transform lambda would
    re-evaluate the full norm per element."""
    return (
        df.select(F.col(id_alias), F.col(vec_col).alias("__v"))
        .withColumn("__norm", l2_norm(F.col("__v")))
        .withColumn(
            out_vec,
            F.transform(F.col("__v"), lambda x: x.cast("double") / F.col("__norm")),
        )
        .drop("__v", "__norm")
    )


def ranked_topk(
    scored: DataFrame,
    key_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_name: str = "rank",
) -> DataFrame:
    """EXACT per-key top-k as a single rank-filtered window — shared by
    every ANN variant so the top-k plan shape is decided (and documented)
    in ONE place.

    Why a single window does NOT straggle at 100 TB, even with 5 probe
    queries: keeping the ``filter(rank <= k)`` directly above the
    ``row_number`` lets Spark 4's WindowGroupLimit rewrite insert a
    PARTIAL group-limit on the map side — each scan task locally prunes
    to its own top-k per key BEFORE the exchange, so the per-key final
    task sorts k * n_map_partitions rows, never the full scored
    relation. Verified in the physical plan (``row_number(), k,
    Partial`` / ``Final`` nodes; asserted by
    tests/test_plan_audits.py). An explicit salted two-phase top-k was
    measured against this and rejected: it re-buys the same map-side
    prune at the price of a second shuffle (sf0.1 A/B: 0.53 s single
    window vs 0.81 s salted). Callers must pass a TOTAL order (sim DESC,
    id ASC) so ties are deterministic.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return scored.withColumn(
        rank_name, F.row_number().over(w)
    ).filter(F.col(rank_name) <= k)


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector.

    Plan: broadcast the (small) query set → one pass over the corpus computing
    similarities JVM-side → per-query top-k via window. Vectors are unit-
    normalised once up front, so the per-pair work is one dot product. The
    corpus never shuffles more than the matched candidate rows; at 1000
    executors this is a single map stage plus a k-row-per-query aggregation.
    """
    q = unit_normalized(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        "query_id", vec_col, "query_vec",
    )
    # spread the corpus scan: a single small parquet file = one partition,
    # which would serialise the similarity math on one core
    c = unit_normalized(
        df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
        .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        "neighbor_id", vec_col, "vec",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim", F.round(dot(F.col("query_vec"), F.col("vec")), 6)
        )
    )
    return ranked_topk(
        scored,
        ["query_id"],
        [F.desc("cosine_sim"), F.asc("neighbor_id")],
        k,
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


# --- LSH-bucketed ANN (scale path) ------------------------------------------

# Deterministic pseudo-random hyperplanes: component h[i][d] derived from a
# fixed affine sequence mapped to [-1, 1]. Engine-reproducible and cheap.
NUM_HYPERPLANES = 16


def _hyperplane(dim: int, i: int) -> list[float]:
    vals = []
    x = (i * 2_654_435_761 + 97) % 2_147_483_647
    for _ in range(dim):
        x = (x * 1_103_515_245 + 12_345) % 2_147_483_647
        vals.append((x / 2_147_483_647.0) * 2.0 - 1.0)
    return vals


def signbit_signature(vec: Column, dim: int, n_planes: int = NUM_HYPERPLANES) -> Column:
    """Random-hyperplane (SimHash-for-cosine) signature: one bit per plane."""
    sig = F.lit(0).cast("bigint")
    for i in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, i)])
        proj = dot(vec, plane)
        sig = sig + F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sig


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = NUM_HYPERPLANES,
    band_bits: int = 8,
) -> DataFrame:
    """Approximate top-k: bucket corpus and queries by hyperplane sign bands,
    equi-join on (band, band_key), then exact cosine + per-query top-k over the
    candidates only. Recall < 1.0 by construction — the brute-force operator is
    the correctness baseline; this is the shape that scales (equi-join shuffle
    on uniform keys instead of a cross join)."""
    n_bands = n_planes // band_bits

    def banded(side: DataFrame, ident: str, vec_alias: str) -> DataFrame:
        s = side.select(
            F.col(id_col).alias(ident),
            F.col(vec_col).alias(vec_alias),
            signbit_signature(F.col(vec_col), dim, n_planes).alias("_sig"),
        )
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("_sig"), b * band_bits)
                    .bitwiseAND(F.lit((1 << band_bits) - 1))
                    .alias("band_key"),
                )
                for b in range(n_bands)
            ]
        )
        return s.select(ident, vec_alias, F.explode(bands).alias("bk")).select(
            ident, vec_alias, "bk.band", "bk.band_key"
        )

    cb = banded(df, "neighbor_id", "vec")
    qb = banded(queries, "query_id", "query_vec")
    cands = (
        cb.join(F.broadcast(qb), ["band", "band_key"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "query_vec", "neighbor_id", "vec")
        .distinct()
    )
    scored = cands.withColumn(
        "cosine_sim", F.round(cosine(F.col("query_vec"), F.col("vec")), 6)
    )
    return ranked_topk(
        scored,
        ["query_id"],
        [F.desc("cosine_sim"), F.asc("neighbor_id")],
        k,
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantise the corpus into
    ``n_cells`` k-means cells, then for each query probe only the ``n_probe``
    nearest cells and exactly rerank the candidates.

    The 100 TB shape: the corpus is scanned once to assign cells (and would be
    *stored* partitioned by cell); a query touches n_probe/n_cells of the data
    — an equi-join on cell id, shuffle-free when the corpus is bucketed by
    cell. Centroids are tiny and broadcast.

    r8: the coarse quantizer is the repo's own deterministic fixed-point
    spherical k-means (operators/clustering.py — the IVF-PQ coarse stage),
    not MLlib float: every cross-row sum is an exact integer, so the whole
    operator (training included) replays as an unrolled SQL CTE chain and
    carries a FULL value-hash oracle (REPRO.md pattern 8) despite recall <
    1 by construction. The exact twin remains :func:`brute_force_topk`."""
    assigned, cent = _ivf_build(df, n_cells, id_col, vec_col)
    probes = _ivf_probes(queries, cent, n_probe, id_col, vec_col)
    return _ivf_rerank(probes, assigned, queries, k, id_col, vec_col)


def _ivf_build(
    df: DataFrame, n_cells: int, id_col: str, vec_col: str, iters: int = 4
) -> tuple[DataFrame, DataFrame]:
    """Fit the coarse quantizer: (neighbor_id, cell) assignments plus the
    quantised centroid relation (cell, pos, icval) — kmeans_fit's exact
    fixed-point arithmetic, so both are engine-replayable."""
    from .clustering import kmeans_fit

    assign, cent = kmeans_fit(df, vec_col=vec_col, id_col=id_col, k=n_cells, iters=iters)
    assigned = (
        df.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .join(
            assign.select(
                F.col(id_col).alias("neighbor_id"),
                F.col("cluster_id").cast("int").alias("cell"),
            ),
            "neighbor_id",
        )
    )
    return assigned, cent.select(F.col("cid").cast("int").alias("cell"), "pos", "icval")


def _ivf_probes(
    queries: DataFrame,
    cent: DataFrame,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Rank cells per query by the fixed-point query·centroid dot (the
    kmeans assignment similarity, same float rendering and tie-break);
    keep the n_probe best. Centroids are k·dim rows — broadcast."""
    from .clustering import _SCALE, _pos_exploded

    qpts = _pos_exploded(queries, id_col, vec_col)
    qc = (
        qpts.join(F.broadcast(cent), "pos")
        .groupBy("__id", "cell")
        .agg(
            (
                F.sum(F.col("ival") * F.col("icval")).cast("double")
                / (_SCALE * _SCALE)
            ).alias("sim")
        )
    )
    wq = Window.partitionBy("__id").orderBy(F.desc("sim"), F.asc("cell"))
    return (
        qc.withColumn("cell_rank", F.row_number().over(wq))
        .filter(F.col("cell_rank") <= n_probe)
        .select(F.col("__id").alias("query_id"), "cell")
    )


def _ivf_rerank(
    probes: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact cosine rerank of the probed candidates — the brute_force_topk
    scoring (unit vectors + left-to-right dot) over only the candidate
    set, so the oracle reuses the proven embedding_topk discipline."""
    qu = unit_normalized(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        "query_id", vec_col, "query_vec",
    )
    cands = (
        probes.join(assigned, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # normalize AFTER pruning: only probed candidates pay the norm
        # (same arithmetic as unit_normalized — norm as a real column)
        .withColumn("__norm", l2_norm(F.col("vec")))
        .filter(F.col("__norm") > 0)
        .withColumn(
            "uvec",
            F.transform(
                F.col("vec"), lambda x: x.cast("double") / F.col("__norm")
            ),
        )
    )
    scored = cands.join(F.broadcast(qu), "query_id").withColumn(
        "cosine_sim", F.round(dot(F.col("query_vec"), F.col("uvec")), 6)
    )
    return ranked_topk(
        scored,
        ["query_id"],
        [F.desc("cosine_sim"), F.asc("neighbor_id")],
        k,
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


def _grid_cells(
    df: DataFrame, id_col: str, vec_col: str, r: float, block_dims: int
) -> DataFrame:
    """(pid, uv, c0..c{d-1}): unit vector + per-dim grid cell indices."""
    u = unit_normalized(
        df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
        .select(F.col(id_col).alias("pid"), F.col(vec_col)),
        "pid", vec_col, "uv",
    )
    for i in range(block_dims):
        u = u.withColumn(f"c{i}", F.floor(F.col("uv")[i] / F.lit(r)).cast("long"))
    return u


def _probe_keys(block_dims: int) -> Column:
    """Array of the 3^d neighbour-cell keys (the exploding side)."""
    import itertools

    offsets = list(itertools.product((-1, 0, 1), repeat=block_dims))
    return F.array(
        *[
            F.concat_ws(
                ":",
                *[
                    (F.col(f"c{i}") + F.lit(off[i])).cast("string")
                    for i in range(block_dims)
                ],
            )
            for off in offsets
        ]
    )


def _home_key(block_dims: int) -> Column:
    return F.concat_ws(
        ":", *[F.col(f"c{i}").cast("string") for i in range(block_dims)]
    )


def _auto_grid_candidates(
    u: DataFrame,
    block_dims: int,
    pairs_per_doc: float,
    sample_target: int = 65536,
) -> str:
    """Data-driven all/star selection for the grid family (r10 verdict
    #7 — the ``dedup._auto_candidates`` pattern applied to grid cells):
    a bounded diagnostic over the home-cell counts estimates the cell
    self-join candidate volume Σ_cells C(c, 2) — the quadratic term a
    dup-dense corpus inflates (the hot cluster lands in ONE cell).
    Above ``pairs_per_doc · n_vectors`` the star posture engages;
    uniform corpora keep the complete all-pairs baseline.

    r11 verdict #2: the statistic is SAMPLED above ``sample_target``
    vectors (operators/diag.py — deterministic 1-in-s id-hash sample
    with the 1/s² pair-survival correction). The id filter sits under
    the cell-key projection, so skipped vectors never pay the
    normalization arithmetic — the r11 exact pass re-normalized the
    whole corpus and cost up to ~2.4× the selected posture's own
    runtime (SCALE.md r11 finding 1); the sampled pass touches
    ~``sample_target`` vectors regardless of corpus size. Small corpora
    keep the exact bit-identical decision. Under plan-audit mode no job
    may run: auto resolves to "star", the scale-safe posture,
    deterministically."""
    if not checkpoints_enabled():
        return "star"
    from .diag import estimate_bucket_pair_volume

    pairs, n = estimate_bucket_pair_volume(
        u, [f"c{i}" for i in range(block_dims)], "pid", sample_target
    )
    return "star" if pairs > pairs_per_doc * max(n, 1.0) else "all"


def grid_near_dup_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_dims: int = 3,
    candidates: str = "all",
    auto_pairs_per_doc: float = 8.0,
) -> DataFrame:
    """Two-corpus variant of :func:`grid_near_dup_pairs` — every (left,
    right) pair with cosine ≥ threshold, deterministic-complete (the left
    side probes its 3^d neighbourhood, the right side keeps its home cell;
    any qualifying pair's cells differ ≤1 per blocked dim). The incremental
    dedup shape: new batch × seen corpus without rescoring seen × seen.

    ``candidates="star"``: the SEEN side is reduced to one min-id
    representative per full-dimension fine-quantization group before the
    grid join (see :func:`grid_near_dup_pairs` — near-identical seen
    vectors are represented by one row), so a dup-dense seen corpus
    costs O(groups), not O(members), per probing new vector. A new
    vector similar to a group member is matched through the
    representative (jitter-scale groups make the two interchangeable up
    to the verify threshold).

    ``candidates="auto"`` measures the SEEN side's home-cell size
    distribution (:func:`_auto_grid_candidates` — the seen corpus is
    where dup density accumulates across increments) and flips to star
    above ``auto_pairs_per_doc`` candidate pairs per seen vector."""
    import math

    if candidates not in ("all", "star", "auto"):
        raise ValueError(f"unknown candidates mode {candidates!r}")
    r = math.sqrt(max(2.0 - 2.0 * threshold, 1e-12))
    lu = _grid_cells(left, id_col, vec_col, r, block_dims)
    ru = _grid_cells(right, id_col, vec_col, r, block_dims)
    if candidates == "auto":
        candidates = _auto_grid_candidates(
            ru, block_dims, auto_pairs_per_doc
        )
    a = lu.select(
        F.col("pid").alias("id_a"),
        F.col("uv").alias("va"),
        F.explode(_probe_keys(block_dims)).alias("ck"),
    )
    if candidates == "star":
        fk = F.array_join(
            F.transform(
                F.col("uv"),
                lambda x: F.floor(x / F.lit(r)).cast("long").cast("string"),
            ),
            ":",
        )
        b = (
            ru.withColumn("__fk", fk)
            .groupBy("__fk")
            .agg(
                F.min("pid").alias("id_b"),
                F.min_by("uv", "pid").alias("vb"),
                *[
                    F.min_by(F.col(f"c{i}"), "pid").alias(f"c{i}")
                    for i in range(block_dims)
                ],
            )
            .select("id_b", "vb", _home_key(block_dims).alias("ck"))
        )
    else:
        b = ru.select(
            F.col("pid").alias("id_b"),
            F.col("uv").alias("vb"),
            _home_key(block_dims).alias("ck"),
        )
    return (
        a.join(b, "ck")
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn("cosine_sim", F.round(dot(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def grid_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_dims: int = 3,
    candidates: str = "all",
    auto_pairs_per_doc: float = 8.0,
) -> DataFrame:
    """Embedding-cosine near-dup with DETERMINISTIC-COMPLETE grid blocking —
    the scale path for the near-duplicate regime (threshold ≥ ~0.8), with
    recall exactly 1.0 (unlike hyperplane LSH, whose recall is probabilistic
    and can never be proven complete against an exact oracle).

    Geometry: for unit vectors, cos(x,y) ≥ t  ⇔  ‖x−y‖₂ ≤ r = √(2−2t), and
    per-coordinate |x_i−y_i| ≤ ‖x−y‖₂. Bucket every vector by
    ``floor(v_i / r)`` over ``block_dims`` fixed leading dimensions: any true
    pair's cell indices differ by at most 1 in each blocked dim, so one side
    probing its 3^block_dims neighbourhood covers every qualifying pair by
    construction. Candidates then get ONE exact dot-product verify.

    Plan shape: explode(3^d probe keys) → shuffle equi-join on the cell key →
    filter+project. No BroadcastNestedLoopJoin, no driver collect; shuffle
    volume is 3^d × corpus (d=3 → 27×), traded against candidate pruning that
    tightens as the threshold rises (r shrinks → more, smaller cells). At
    100 TB: raise ``block_dims`` for finer pruning (cost ×3 shuffle per dim),
    or pre-bucket the stored table by the first cell index so the join
    co-locates. Skewed cells (many vectors sharing a cell) are bounded by the
    corpus' actual near-dup density — the verify stage is linear in candidate
    pairs, which an adversarial corpus can inflate; salting the cell key is
    the standard mitigation (operators/skew.py).

    ``candidates`` (r9 — duplicate-density skew, mirroring
    operators/dedup.py): with ``"all"``, a corpus where 30 % of vectors
    are jitters of one point puts the whole hot cluster in ONE grid
    cell, and both the cell self-join and the TRUE pair output are
    ~C(0.3 n, 2) — quadratic by construction (the 100× dup-dense sweep
    cancels it at its timeout). ``"star"`` absorbs near-identical
    vectors first: group by the FULL-dimension fine quantization
    ``floor(uv_i / r)`` over every component (a jitter cluster's spread
    is ≪ r, so it collapses into one — occasionally a few, when a
    component straddles a floor boundary — fine groups, while unrelated
    vectors virtually never agree on all D floors), emit each member
    against its group's min-id representative (verified), then run the
    NORMAL grid all-pairs over the representatives only. On a corpus
    with no near-identical mass every vector is its own representative
    and star output ≡ all-pairs output; on a dup-dense corpus the hot
    cluster contributes O(members) intra pairs plus a handful of
    representatives to the quadratic stage. The lost corner — a non-rep
    member pairing with a vector OUTSIDE its fine group — is the same
    represented-through-the-rep contract as the dedup star posture.

    ``candidates="auto"`` (r10 verdict #7): one bounded diagnostic agg
    over the home-cell counts (:func:`_auto_grid_candidates`) picks all
    on uniform corpora (identical output to the complete baseline) and
    star above ``auto_pairs_per_doc`` candidate pairs per vector; under
    plan-audit mode it resolves to star with zero jobs.
    """
    import math

    if candidates not in ("all", "star", "auto"):
        raise ValueError(f"unknown candidates mode {candidates!r}")
    r = math.sqrt(max(2.0 - 2.0 * threshold, 1e-12))
    u = _grid_cells(df, id_col, vec_col, r, block_dims)
    if candidates == "auto":
        candidates = _auto_grid_candidates(u, block_dims, auto_pairs_per_doc)
    if candidates == "star":
        fk = F.array_join(
            F.transform(
                F.col("uv"),
                lambda x: F.floor(x / F.lit(r)).cast("long").cast("string"),
            ),
            ":",
        )
        g = u.withColumn("__fk", fk)
        # min_by(c_i) rides along with the min-pid row, which is exactly
        # the representative's own cell index
        reps = g.groupBy("__fk").agg(
            F.min("pid").alias("pid"),
            F.min_by("uv", "pid").alias("uv"),
            *[
                F.min_by(F.col(f"c{i}"), "pid").alias(f"c{i}")
                for i in range(block_dims)
            ],
        )
        # r12: the rep relation is consumed THREE times (the intra build
        # side plus both legs of the cross stage) and the fine-keyed
        # corpus relation g twice more behind it. Without a cache Spark
        # plans three INDEPENDENT corpus-sized sort-aggregates — the
        # consumers' pushed filters differ below the exchange, so
        # ReusedExchange never fires (verified in the audited plan:
        # 8 parquet scans, 0 reuses) — measured 18-20 s vs 3.3 s for the
        # all-pairs posture at sf0.1. Persist both, materialize the small
        # verified-pair result, release (the minhash shingle-cache
        # lifecycle).
        with reuse(g) as g, reuse(reps) as reps:
            intra = (
                g.join(
                    reps.select(
                        "__fk",
                        F.col("pid").alias("id_a"),
                        F.col("uv").alias("va"),
                    ),
                    "__fk",
                )
                .filter(F.col("pid") > F.col("id_a"))
                .withColumn(
                    "cosine_sim", F.round(dot(F.col("va"), F.col("uv")), 6)
                )
                .filter(F.col("cosine_sim") >= threshold)
                .select(
                    "id_a", F.col("pid").alias("id_b"), "cosine_sim"
                )
            )
            u = reps  # the quadratic stage sees one row per fine group
            a = u.select(
                F.col("pid").alias("id_a"),
                F.col("uv").alias("va"),
                F.explode(_probe_keys(block_dims)).alias("ck"),
            )
            b = u.select(
                F.col("pid").alias("id_b"),
                F.col("uv").alias("vb"),
                _home_key(block_dims).alias("ck"),
            )
            cross = (
                a.join(b, "ck")
                .filter(F.col("id_a") < F.col("id_b"))
                .withColumn(
                    "cosine_sim", F.round(dot(F.col("va"), F.col("vb")), 6)
                )
                .filter(F.col("cosine_sim") >= threshold)
                .select("id_a", "id_b", "cosine_sim")
            )
            # disjoint by construction: intra pairs share a fine group,
            # cross pairs are two distinct groups' representatives
            return materialize(intra.unionByName(cross))
    a = u.select(
        F.col("pid").alias("id_a"),
        F.col("uv").alias("va"),
        F.explode(_probe_keys(block_dims)).alias("ck"),
    )
    b = u.select(
        F.col("pid").alias("id_b"),
        F.col("uv").alias("vb"),
        _home_key(block_dims).alias("ck"),
    )
    # each unordered pair matches exactly once: x's probe set contains y's
    # home cell exactly once, and the mirrored orientation fails id_a < id_b
    return (
        a.join(b, "ck")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", F.round(dot(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup: unordered pairs with cosine ≥ threshold.
    Brute-force within-corpus variant — the small-scale exact twin kept for
    tests/oracles and for thresholds too loose to block on (below ~0.8 the
    grid radius exceeds the data spread and NO blocking scheme prunes);
    :func:`grid_near_dup_pairs` is the declared scale path. Unit-normalised
    once per vector → one dot product per pair."""
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    a = unit_normalized(
        spread.select(F.col(id_col).alias("id_a"), F.col(vec_col)), "id_a", vec_col, "va"
    )
    b = unit_normalized(
        spread.select(F.col(id_col).alias("id_b"), F.col(vec_col)), "id_b", vec_col, "vb"
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", F.round(dot(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )
