"""Deduplication operators for LLM-corpus pipelines (SURVEY.md §2.13).

Four families, all engine-reproducible (sha256-derived hashing, no engine-
private hash functions) so the DuckDB differential oracle can replicate them
bit-for-bit:

  - exact dedup        — sha256 fingerprint over normalised text
  - MinHash + LSH      — word-shingle minhash signatures, banded self-join
  - SimHash            — sign-aggregated bitwise fingerprint, hamming buckets
  - n-gram Jaccard     — exact pairwise set similarity (the verify step)

Scale posture: the LSH band join is the scale path — candidate generation is
an equi-join on (band, band_key), which shuffles on a uniformly-hashed key
(no skew), instead of the O(n²) cross join. Exact Jaccard runs only on
candidate pairs. At 100 TB you'd also partition the corpus and run per-band
bucketed joins; the operator shape here already is that join.

In production (no oracle constraint) swap `_shingle_hash` to `xxhash64` for
~10× cheaper hashing — the operator structure is unchanged.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.text import norm_text
from ..plan_audit import checkpoints_enabled, materialize, reuse

# Universal-hash family constants for minhash permutations:
# h_i(x) = (A[i] * x + B[i]) mod MERSENNE31, over x = shingle hash mod MERSENNE31.
# Products stay < 2^62, so bigint arithmetic is exact in both Spark and DuckDB.
MERSENNE31 = 2_147_483_647
NUM_HASHES = 32
LSH_BANDS = 8
LSH_ROWS = 4  # NUM_HASHES / LSH_BANDS
MINHASH_A = [(i * 2_654_435_761 + 1) % MERSENNE31 for i in range(1, NUM_HASHES + 1)]
MINHASH_B = [(i * 40_503 + 17) % MERSENNE31 for i in range(1, NUM_HASHES + 1)]


def _tokens(col: Column) -> Column:
    return F.split(norm_text(col), " ")


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Repartition a small-file scan so per-row compute parallelises: a single
    small parquet file arrives as ONE partition regardless of cores, which
    serialises sha256-per-shingle work. The shuffle moves only the raw text
    (cheap) and buys full-cluster parallelism for the hash stage. No-op effect
    on results."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    return df.repartition(n, key)


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token-array column
    (array<string>). Documents with fewer than ``n`` tokens yield an empty
    array.

    PERF: ``toks`` must be a plain column *reference* to pre-materialised
    tokens (see :func:`with_shingles`) — passing a tokenisation *expression*
    embeds it at every element_at site, re-running the whole-document regex
    split 3× per shingle (interpreted HOFs do no common-subexpression
    elimination; this was a 10× slowdown in practice)."""
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    # sequence(0, k) DESCENDS for k < 0, so short docs must short-circuit to []
    return F.when(F.size(toks) >= n, F.array_distinct(gram)).otherwise(
        F.array().cast("array<string>")
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Add a ``shingles`` column (distinct word n-grams of the normalised
    text), materialising the token array once per row first."""
    return (
        df.withColumn("__toks", _tokens(F.col(text_col)))
        .withColumn("shingles", word_shingles(F.col("__toks"), n))
        .drop("__toks")
    )


def shingle_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct (id, shingle) ROWS — the fully codegen shingling path:
    posexplode tokens → window ``lead`` per document → filter complete
    n-grams → distinct. No arrays, no higher-order functions; every operator
    whole-stage-codegens and the shuffle key (id) is the document, so it
    parallelises regardless of input file layout. Semantics identical to
    :func:`word_shingles` (used by the array-shaped API and tests)."""
    toks = df.select(
        F.col(id_col), F.posexplode(_tokens(F.col(text_col))).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    grams = toks.select(
        F.col(id_col),
        F.concat_ws(
            " ", "tok", *[F.lead("tok", j).over(w) for j in range(1, n)]
        ).alias("shingle"),
        F.lead("tok", n - 1).over(w).alias("__last"),
    )
    return (
        grams.filter(F.col("__last").isNotNull())
        .select(id_col, "shingle")
        .distinct()
    )


def _shingle_hash(shingle: Column) -> Column:
    """Deterministic 31-bit shingle hash: first 15 hex chars of sha256 → bigint
    → mod Mersenne-31. Reproducible in DuckDB as
    ``('0x' || substr(sha256(s),1,15))::BIGINT % 2147483647``."""
    return (
        F.conv(F.substring(F.sha2(shingle, 256), 1, 15), 16, 10).cast("bigint")
        % MERSENNE31
    )


def _perm(a: int, b: int):
    # closure factory: PySpark infers lambda arity from the signature, so the
    # returned lambda must take exactly one argument
    return lambda h: (a * h + b) % MERSENNE31


def minhash_signature(shingles: Column) -> Column:
    """array<bigint> of NUM_HASHES minhash values; empty shingle set → NULLs."""
    hashes = F.transform(shingles, _shingle_hash)
    sig = [
        F.array_min(F.transform(hashes, _perm(a, b)))
        for a, b in zip(MINHASH_A, MINHASH_B)
    ]
    return F.array(*sig)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the lowest id per normalised-text sha256 fingerprint.
    Generalises the reference's hash anti-join identity (J1/X1,
    ideafast_etl/hooks/db.py:49-55) to content-normalised text.

    One shuffle on the 256-bit fingerprint (uniform, skew-free); min-by
    aggregation instead of a window so the map side pre-aggregates."""
    fp = F.sha2(norm_text(F.col(text_col)), 256)
    return (
        _spread(df, id_col)
        .withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_dupes"),
        )
        .select(id_col, "fingerprint", "n_dupes")
    )


def with_minhash(
    df: DataFrame, text_col: str = "text", shingle_words: int = 3
) -> DataFrame:
    """Attach ``shingles`` and ``minhash`` (signature array) columns.
    Documents too short to shingle are dropped (no signature)."""
    out = _spread(df, "doc_id" if "doc_id" in df.columns else df.columns[0])
    out = with_shingles(out, text_col, shingle_words)
    out = out.filter(F.size("shingles") > 0)
    return out.withColumn("minhash", minhash_signature(F.col("shingles")))


def lsh_candidate_pairs(
    sig_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Banded-LSH candidate generation: explode the signature into LSH_BANDS
    band keys, self-join on (band, band_key), keep each unordered pair once.
    Returns (id_a, id_b) distinct candidate pairs."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(F.col("minhash"), b * LSH_ROWS + r + 1)
                        for r in range(LSH_ROWS)
                    ],
                ).alias("band_key"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    banded = (
        sig_df.select(F.col(id_col), F.explode(bands).alias("bk"))
        .select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = left.join(
        right,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.band_key") == F.col("r.band_key"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
    )
    return pairs.distinct()


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def _auto_candidates(
    banded: DataFrame,
    n_bands: int,
    pairs_per_doc: float,
    sample_target: int = 65536,
) -> str:
    """Data-driven all/star selection (r9 verdict #7 — the
    ``mmr_rerank`` ``loop="auto"`` pattern): a bounded diagnostic over
    the band buckets estimates the all-pairs candidate volume
    Σ_buckets C(c, 2); above ``pairs_per_doc · n_docs`` the quadratic
    enumeration is degenerate duplicate density and the star posture is
    selected. On a uniform corpus bucket sizes are O(1) and the volume
    is ≲ the true dup-pair count, so the baseline stays.

    r11 verdict #2: the statistic is now SAMPLED above ``sample_target``
    rows (operators/diag.py — deterministic 1-in-s doc-hash sample with
    the 1/s² pair-survival correction) instead of an exact full keyed
    aggregation, so the diagnostic cost is bounded regardless of corpus
    size; small corpora keep the exact bit-identical decision. Under
    plan-audit mode no job may run: auto resolves to "star", the
    scale-safe posture, deterministically."""
    if not checkpoints_enabled():
        return "star"
    from .diag import estimate_bucket_pair_volume

    pairs, rows = estimate_bucket_pair_volume(
        banded, ["band", "band_key"], banded.columns[0], sample_target
    )
    n_docs = rows / max(n_bands, 1)
    return "star" if pairs > pairs_per_doc * max(n_docs, 1.0) else "all"


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    candidates: str = "all",
    auto_pairs_per_doc: float = 8.0,
) -> DataFrame:
    """MinHash-LSH near-dup pipeline: signature → banded candidates → exact
    Jaccard verify on candidates only. Returns (id_a, id_b, jaccard_sim)
    for pairs the LSH surfaced with true Jaccard ≥ threshold.

    Plan shape (every stage whole-stage-codegens — no arrays or interpreted
    higher-order lambdas anywhere):
      1. distinct (id, shingle) rows via posexplode + window lead;
      2. signature: sha256 shingle hash → 32 min() hash-aggregates
         (map-side partial combine);
      3. banding: 8 (band, band_key) rows per doc; candidates from the
         equi-self-join on the band key (uniform, skew-free);
      4. exact verify: intersection COUNTS via an equi-join on the shingle
         string itself (no 31-bit-collision risk vs the oracle), sizes from a
         per-doc count, |A∪B| = |A|+|B|−|A∩B|.
    The shingle-row relation feeds four branches, hence the persist
    (MEMORY_AND_DISK; at cluster scale, checkpoint to storage instead).
    Under ``plan_audit.no_checkpoints()`` ``reuse``/``materialize`` are
    identities and the full lazy lineage is returned so ``.explain``
    audits the real plan (the checkpointed form explains as only a
    ``Scan ExistingRDD``).

    ``candidates`` (r9 — duplicate-density skew): with ``"all"`` a band
    bucket of n docs yields C(n, 2) candidate pairs, which is correct —
    the TRUE near-dup pair set of an n-member dup cluster IS quadratic —
    but unrunnable when one cluster holds a large corpus share (a 30 %
    single-template corpus at 100x hung the all-pairs probe). ``"star"``
    links every bucket member to the bucket's MIN id instead: O(n)
    candidates per bucket, an agg + one equi-join (AQE-splittable probe
    side) in place of the self-join. The verified star pairs preserve
    dedup/clustering connectivity whenever intra-bucket similarity is
    transitive (true for template dup clusters; verification still
    rejects hash-collision members individually), at the cost of not
    ENUMERATING every in-cluster pair — the production posture for
    degenerate duplicate density, and the semantics its own differential
    oracle replays (``minhash_near_dup_star``). ``"auto"`` measures the
    band-bucket size distribution (one bounded diagnostic agg over the
    persisted shingle relation — see :func:`_auto_candidates`) and flips
    to star when the all-pairs volume exceeds ``auto_pairs_per_doc``
    candidates per document."""
    if candidates not in ("all", "star", "auto"):
        raise ValueError(f"unknown candidates mode {candidates!r}")
    with reuse(shingle_rows(_spread(df, id_col), text_col, id_col)) as sh:
        # ONE aggregation computes the shingle count AND all 32 signature
        # mins, consumed by the banding branch and both size-lookup
        # branches. r12: PERSIST it (n rows × 34 narrow columns, bounded
        # by doc count) — per-consumer column pruning plants different
        # ReadSchemas below the partial aggregate, so the "identical
        # exchange" this comment used to bank on never canonicalizes
        # equal and ReusedExchange does NOT fire (measured: the doc-keyed
        # aggregate over the big shingle cache re-executed per branch;
        # same root cause as the grid-star fix, OPTIMIZATION_r12 §10b/c).
        per_doc = sh.select(
            F.col(id_col), _shingle_hash(F.col("shingle")).alias("h")
        ).groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_sh"),
            *[
                F.min((a * F.col("h") + b) % MERSENNE31).alias(f"mh{i}")
                for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
            ]
        )
        with reuse(per_doc) as per_doc:
            sizes = per_doc.select(id_col, "n_sh")
            bands = F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"mh{b * LSH_ROWS + r}")
                                for r in range(LSH_ROWS)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
            banded = per_doc.select(F.col(id_col), F.explode(bands).alias("bk")).select(
                id_col, "bk.band", "bk.band_key"
            )
            if candidates == "auto":
                candidates = _auto_candidates(banded, LSH_BANDS, auto_pairs_per_doc)
            if candidates == "star":
                reps = banded.groupBy("band", "band_key").agg(
                    F.min(id_col).alias("id_a")
                )
                cands = (
                    banded.join(reps, ["band", "band_key"])
                    .filter(F.col(id_col) > F.col("id_a"))
                    .select("id_a", F.col(id_col).alias("id_b"))
                    .distinct()
                )
            else:
                cands = (
                    banded.alias("l")
                    .join(
                        banded.alias("r"),
                        (F.col("l.band") == F.col("r.band"))
                        & (F.col("l.band_key") == F.col("r.band_key"))
                        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
                    )
                    .select(
                        F.col(f"l.{id_col}").alias("id_a"),
                        F.col(f"r.{id_col}").alias("id_b"),
                    )
                    .distinct()
                )
            ra = sh.select(F.col(id_col).alias("id_a"), F.col("shingle"))
            rb = sh.select(F.col(id_col).alias("id_b"), F.col("shingle"))
            # no forced broadcast OR forced shuffle on the verify legs: post-
            # banding candidates are tiny on normal corpora, so AQE's observed-
            # size broadcast conversion is the right local plan, and once any
            # leg outgrows the threshold AQE keeps the shuffle join (no hint
            # could pick both correctly — an r7 experiment that pinned these
            # to merge joins cost 12x at 10x scale). The one genuine failure
            # mode — a single under-provisioned JVM caching the whole shingle
            # relation AND building a broadcast — is a harness-sizing issue
            # (tools/scale_check.py scales heap/partitions with the factor),
            # not a plan defect: on a cluster the cache is spread over
            # executors and the driver only holds the <threshold broadcast.
            inter = (
                cands
                .join(ra, "id_a")
                .join(rb, ["id_b", "shingle"])
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("n_inter"))
            )
            sz = lambda side: sizes.select(  # noqa: E731
                F.col(id_col).alias(f"id_{side}"), F.col("n_sh").alias(f"n_{side}")
            )
            verified = (
                inter.join(sz("a"), "id_a")
                .join(sz("b"), "id_b")
                .withColumn(
                    "jaccard_sim",
                    F.round(
                        F.col("n_inter").cast("double")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                            "double"
                        ),
                        6,
                    ),
                )
                .filter(F.col("jaccard_sim") >= threshold)
                .select("id_a", "id_b", "jaccard_sim")
            )
            # materialise (small result) before unpersisting the caches
            return materialize(verified)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
    shingle_words: int = 3,
    block_col: str | None = "lang",
    hot_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup within a blocking key (default ``lang``).

    Identical semantics to the all-pairs cross join, but computed as an
    inverted-index self-join on the shingle ROWS: only pairs that SHARE at
    least one shingle are ever materialised (a pair with Jaccard ≥ any
    positive threshold must share a shingle), and the intersection size falls
    out of the join's group count — |A∪B| = |A|+|B|−|A∩B|. Every stage is a
    codegen equi-join/hash-aggregate; no arrays.

    Hot shingles bound the self-join fan-out (a shingle in k docs yields
    k² candidate rows). ``hot_doc_freq`` caps that at corpus scale: shingles
    appearing in more than that many documents are dropped BEFORE the join
    (and before set sizes, so Jaccard is computed over the trimmed shingle
    sets). The cap is an approximation — a pair whose only shared shingles
    are hot is missed — so it is OFF by default and warns loudly when it
    actually trims; for exact results on hot-shingle corpora use
    :func:`minhash_near_dup_pairs` instead."""
    base = _spread(df, id_col)
    with ExitStack() as caches:
        sh = caches.enter_context(reuse(
            shingle_rows(base, text_col, id_col, shingle_words).join(
                base.select(F.col(id_col), F.col(block_col)), id_col
            )
            if block_col
            else shingle_rows(base, text_col, id_col, shingle_words)
        ))
        if hot_doc_freq is not None:
            import warnings

            shingle_keys = ["shingle"] + ([block_col] if block_col else [])
            hot = caches.enter_context(reuse(
                sh.groupBy(*shingle_keys)
                .agg(F.count(F.lit(1)).alias("sdf"))
                .filter(F.col("sdf") > hot_doc_freq)
                .select(*shingle_keys)
            ))
            n_hot = hot.count()
            if n_hot:
                warnings.warn(
                    f"ngram_jaccard_pairs: hot-shingle cap trimmed {n_hot} "
                    f"shingles with doc-freq > {hot_doc_freq}; pairs sharing "
                    "ONLY trimmed shingles are missed and Jaccard is computed "
                    "over the trimmed sets — fall back to "
                    "minhash_near_dup_pairs for exactness.",
                    UserWarning,
                    stacklevel=2,
                )
                sh = caches.enter_context(
                    reuse(sh.join(hot, shingle_keys, "left_anti"))
                )
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        a_cols = [F.col(id_col).alias("id_a"), F.col("shingle")] + (
            [F.col(block_col)] if block_col else []
        )
        b_cols = [F.col(id_col).alias("id_b"), F.col("shingle")] + (
            [F.col(block_col)] if block_col else []
        )
        a = sh.select(*a_cols)
        b = sh.select(*b_cols)
        join_keys = ["shingle"] + ([block_col] if block_col else [])
        inter = (
            a.join(b, join_keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        verified = (
            inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
            .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
            .withColumn(
                "jaccard_sim",
                F.round(
                    F.col("n_inter").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                    6,
                ),
            )
            .filter(F.col("jaccard_sim") >= threshold)
            .select("id_a", "id_b", "jaccard_sim")
        )
        return materialize(verified)


def near_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    candidates: str = "all",
) -> DataFrame:
    """Near-duplicate clustering: connected components over the verified
    MinHash-LSH pair graph — each involved document labeled with the minimum
    id in its component (the survivor a dedup pass would keep).

    The label is algorithm-independent (min id of the component), so any
    correct implementation agrees — here iterative min-label propagation
    (each round: label ← min(label, neighbours' labels)), which converges in
    O(component diameter) rounds; production-scale corpora use the same loop
    (large-star/small-star) since components are tiny in practice.
    Returns (doc_id, cluster_id) for documents that appear in ≥1 pair.

    ``candidates="star"`` routes the pair generation through the bucket-
    representative candidates (see :func:`minhash_near_dup_pairs`) — the
    degenerate-duplicate-density posture. A welcome side effect for THIS
    operator: a giant dup cluster's pair graph becomes a star around its
    min-id member, so label propagation converges in 2 rounds instead of
    O(cluster diameter)."""
    pairs = minhash_near_dup_pairs(
        df, text_col, id_col, threshold, candidates=candidates
    ).select("id_a", "id_b")
    with reuse(
        pairs.unionByName(
            pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        )
    ) as edges:
        labels = (
            edges.select(F.col("id_a").alias(id_col))
            .distinct()
            .withColumn("cluster_id", F.col(id_col))
        )
        changed = -1
        for _ in range(50):  # diameter bound; tiny in practice
            neighbor_min = (
                edges.join(labels, edges.id_b == labels[id_col])
                .groupBy(edges.id_a.alias(id_col))
                .agg(F.min("cluster_id").alias("n_min"))
            )
            # r12 job shave: labels only ever DECREASE (least of old and
            # neighbour mins), so "new != old" is exactly
            # "neighbour_min < old" — compute the change flag inside the
            # label-update projection instead of re-joining the new
            # label relation against the old one every round. The flag is
            # observed on the round's one materialising action, so a round
            # runs one action and the last round's labels are the output.
            obs = Observation()
            step = (
                labels.join(neighbor_min, id_col, "left")
                .withColumn("__n", F.coalesce(F.col("n_min"), F.col("cluster_id")))
                .observe(
                    obs,
                    F.count_if(F.col("__n") < F.col("cluster_id")).alias("changed"),
                )
                .select(
                    F.col(id_col),
                    F.least(F.col("cluster_id"), F.col("__n")).alias("cluster_id"),
                )
            )
            labels = materialize(step)
            if not checkpoints_enabled():
                step.count()  # a plan audit materialises nothing to observe
            changed = obs.get["changed"]
            if changed == 0:
                break
        if changed != 0:
            # the output contract is the EXACT component-min label; returning
            # silently would hand back wrong cluster ids for any component
            # with diameter > the iteration bound
            raise RuntimeError(
                "near_dup_clusters: min-label propagation did not converge "
                "within 50 rounds — a pair-graph component has diameter > 50; "
                "raise the bound or switch to large-star/small-star."
            )
        return labels


# --- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Row-based SimHash (the scale path — fully codegen, like
    :func:`minhash_near_dup_pairs`): explode distinct tokens, one conditional
    ±1 sum per bit (map-side partial agg), reassemble the fingerprint.
    Returns (id, simhash bigint)."""
    toks = _spread(df, id_col).select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("t")
    ).distinct()
    h = toks.select(F.col(id_col), _shingle_hash(F.col("t")).alias("h"))
    votes = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select(F.col(id_col), fp.cast("bigint").alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    n_bands: int = 4,
    max_df_ratio: float = 0.25,
    candidates: str = "all",
    auto_pairs_per_doc: float = 8.0,
) -> DataFrame:
    """SimHash near-dup: pairs whose fingerprints differ in ≤ ``max_hamming``
    bits. Banded multi-probe candidate generation (pigeonhole: a pair within
    hamming ≤ n_bands−1 must agree exactly on ≥1 of the n_bands bit-slices),
    then exact hamming verify via bit_count(xor). Complete for
    ``max_hamming < n_bands``; the same equi-join shape as MinHash banding.

    Tokens present in more than ``max_df_ratio`` of documents are excluded
    from the fingerprint: unweighted SimHash over raw tokens collapses when
    common function words dominate every document's bit votes (observed:
    ~16% of all pairs within hamming 3). The document-frequency cut is the
    deterministic, corpus-derived stand-in for IDF weighting.

    ``candidates="star"``: bucket-representative candidates (member ↔
    bucket-min pairs) instead of the quadratic in-bucket self-join — the
    degenerate-duplicate-density posture; see
    :func:`minhash_near_dup_pairs` for the semantics trade. ``"auto"``
    measures the band-bucket sizes first (:func:`_auto_candidates`) —
    since r12 the diagnostic reads the persisted fingerprint relation
    instead of re-running the fingerprint pipeline."""
    assert max_hamming < n_bands, "pigeonhole completeness needs max_hamming < n_bands"
    if candidates not in ("all", "star", "auto"):
        raise ValueError(f"unknown candidates mode {candidates!r}")
    band_bits = bits // n_bands
    toks = _spread(df, id_col).select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("t")
    ).distinct()
    # corpus size as a broadcast 1-row scalar INSIDE the job (no separate
    # distinct().count() action per call); floor() mirrors the previous
    # int(ratio * n) truncation
    total = df.agg(F.count_distinct(F.col(id_col)).alias("nd"))
    rare = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(F.broadcast(total))
        .filter(F.col("df") <= F.floor(F.lit(max_df_ratio) * F.col("nd")))
        .select("t")
    )
    # rare-token vocabulary is corpus-scaled (not a bounded dim): let AQE
    # broadcast it from observed size at small SF, shuffle-join at 100 TB
    kept = toks.join(rare, "t")
    h = kept.select(F.col(id_col), _shingle_hash(F.col("t")).alias("h"))
    votes = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    acc = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        acc = term if acc is None else acc + term
    fp = votes.select(F.col(id_col), acc.cast("bigint").alias("simhash"))
    # r12: the fingerprint relation (n rows × 2 columns) feeds two banded
    # consumers (the star agg + probe, or the all-pairs self-join legs)
    # and the auto diagnostic — each re-derived the full corpus pipeline
    # (distinct tokens → document-frequency cut → 32-bit vote aggregate)
    # because the consumers' pruned schemas defeat exchange reuse.
    # Persist it, materialize the small verified pair set, release
    # (the shingle-cache lifecycle; audit mode keeps the lazy lineage).
    with reuse(fp) as fp:
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("simhash"), b * band_bits)
                    .bitwiseAND(F.lit((1 << band_bits) - 1))
                    .alias("band_key"),
                )
                for b in range(n_bands)
            ]
        )
        banded = fp.select(
            F.col(id_col), F.col("simhash"), F.explode(bands).alias("bk")
        ).select(id_col, "simhash", "bk.band", "bk.band_key")
        if candidates == "auto":
            candidates = _auto_candidates(banded, n_bands, auto_pairs_per_doc)
        if candidates == "star":
            reps = banded.groupBy("band", "band_key").agg(
                F.min(id_col).alias("id_a"),
                F.min_by("simhash", id_col).alias("sh_a"),
            )
            cands = (
                banded.join(reps, ["band", "band_key"])
                .filter(F.col(id_col) > F.col("id_a"))
                .select(
                    "id_a",
                    F.col(id_col).alias("id_b"),
                    "sh_a",
                    F.col("simhash").alias("sh_b"),
                )
                .distinct()
            )
        else:
            cands = (
                banded.alias("l")
                .join(
                    banded.alias("r"),
                    (F.col("l.band") == F.col("r.band"))
                    & (F.col("l.band_key") == F.col("r.band_key"))
                    & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
                )
                .select(
                    F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"),
                    F.col("l.simhash").alias("sh_a"),
                    F.col("r.simhash").alias("sh_b"),
                )
                .distinct()
            )
        return materialize(
            cands.withColumn(
                "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            )
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )


def simhash(col: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash fingerprint: per-token 31-bit sha256-derived hash; each bit
    contributes +1/-1 weighted by presence; sign of the sum sets the output
    bit. Returns bigint. Engine-reproducible (pure integer arithmetic)."""
    toks = F.array_distinct(_tokens(col))
    hashes = F.transform(toks, _shingle_hash)
    def _vote(mask: int):
        return lambda s, h: s + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, F.lit(1)
        ).otherwise(F.lit(-1))

    acc = F.lit(0).cast("bigint")
    for bit in range(bits):
        mask = 1 << bit
        votes = F.aggregate(hashes, F.lit(0).cast("bigint"), _vote(mask))
        acc = acc + F.when(votes > 0, F.lit(mask)).otherwise(F.lit(0))
    return acc


def substring_dup_spans(
    df: DataFrame,
    min_len: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring-duplication spans, Lee et al. ('Deduplicating
    Training Data Makes Language Models Better') semantics at word
    granularity: every maximal token run covered by ``min_len``-token
    windows that occur (anywhere, any document — including twice in the
    same one) more than once.

    The suffix-array construction of the paper is replaced by an
    equivalent distributed shape:

    1. every ``min_len``-token window as (id, pos, window) rows — built
       JVM-side from the token array (one generator explode);
    2. global window counts keyed on the window string: count >= 2 marks
       a duplicated window (ONE shuffle on a uniform key);
    3. per document, overlapping duplicated windows merge into maximal
       spans by the gaps-and-islands pattern: a window starting at or
       before the running max end extends the current island, otherwise
       it opens a new one (two window functions over the doc partition);
    4. one keyed agg emits each island (start/end token positions,
       window count).

    Output: (id, span_start, span_end, n_windows) with 1-based inclusive
    token positions. All-integer arithmetic — exact in any engine.

    At 100 TB: shuffle #1 is on the window string (uniform — the count
    head is exactly the duplicated tail we keep), shuffle #2 on the doc
    id; both AQE-sized. No driver state, no Python.
    """
    toks = df.select(
        F.col(id_col), _tokens(F.col(text_col)).alias("t")
    ).filter(F.size("t") >= min_len)
    wins = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {min_len - 1}), "
                f"i -> struct(cast(i AS long) AS pos, "
                f"array_join(slice(t, i, {min_len}), ' ') AS w))"
            )
        ).alias("g"),
    ).select(id_col, F.col("g.pos").alias("pos"), F.col("g.w").alias("w"))
    # the window relation feeds BOTH the count branch and the join probe;
    # without the persist the tokenize+explode (the dominant cost — one
    # window string per token) runs twice. Measured on the giant-doc
    # corpus (tools/scale_check.py --doc-skew, 10x): 49.7 s -> 20.1 s
    # (uniform 10x: 4.2 s -> 3.2 s). The small span result is
    # materialised before the cache is released (the minhash pattern).
    with reuse(wins) as wins:
        dup_w = (
            wins.groupBy("w")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= 2)
            .select("w")
        )
        dups = wins.join(dup_w, "w").select(id_col, "pos")
        w_doc = Window.partitionBy(id_col).orderBy("pos")
        prev_max_end = F.max(F.col("pos") + (min_len - 1)).over(
            w_doc.rowsBetween(Window.unboundedPreceding, -1)
        )
        flagged = dups.withColumn(
            "new_island",
            F.when(
                prev_max_end.isNull() | (F.col("pos") > prev_max_end + 1), 1
            ).otherwise(0),
        ).withColumn("island", F.sum("new_island").over(w_doc))
        return materialize(
            flagged.groupBy(id_col, "island")
            .agg(
                F.min("pos").alias("span_start"),
                (F.max("pos") + (min_len - 1)).alias("span_end"),
                F.count(F.lit(1)).alias("n_windows"),
            )
            .select(id_col, "span_start", "span_end", "n_windows")
        )
