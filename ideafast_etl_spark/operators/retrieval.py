"""Text retrieval scoring (§2.13): BM25 over the documents table — the
ranking function a corpus-curation pipeline uses to find documents relevant
to a probe query (quality probes, topic filters, retrieval-based data
selection a la DSIR).

Plan shape at 100 TB: the query term set is BOUNDED (a handful of terms),
so everything data-sized stays on the corpus side of broadcasts:

1. per-doc token counts (one explode + agg keyed on doc_id),
2. corpus scalars (N, avg doc length) as a 1-row aggregate broadcast back
   (NOT an unpartitioned window — that would drag the per-doc table onto
   a single partition),
3. tokens filtered to the literal query-term set before any shuffle,
4. document frequencies of the query terms (|query| rows) broadcast back,
5. one final agg keyed on the uniform doc id.

Float discipline: each (doc, term) contributes exactly one term score (a
conditional single-row sum — never a multi-row float accumulation), and
the per-doc total adds the per-term columns in sorted-term order, so the
summation order is identical in any engine at any parallelism. The idf's
``ln`` is the one engine-dependent transcendental; rounding the total to
6 dp absorbs final-ulp libm divergence.
"""

from __future__ import annotations

import os
import re
import shutil
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plan_audit import checkpoints_enabled, materialize, reuse
from .dedup import _tokens


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document containing at least one query term with Okapi
    BM25 (k1/b defaults per the literature). Returns (id, n_terms_hit,
    score), score rounded to 6 dp."""
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    toks = df.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("t")
    )
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.sum("dl").alias("__sum_dl"), F.count("*").alias("n_docs")
    )
    dl = dl.crossJoin(F.broadcast(stats)).withColumn(
        "avgdl", F.col("__sum_dl") / F.col("n_docs")
    )
    tf = (
        toks.filter(F.col("t").isin(terms))
        .groupBy(id_col, "t")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
    return _score_bm25_terms(tf, dfreq, dl, terms, k1, b, id_col)


def _score_bm25_terms(
    tf: DataFrame,
    dfreq: DataFrame,
    dl: DataFrame,
    terms: list[str],
    k1: float,
    b: float,
    id_col: str,
) -> DataFrame:
    """Shared scoring tail of :func:`bm25_scores` and
    :func:`bm25_scores_from_index` — ONE implementation so the inline and
    index-backed paths are float-identical by construction. ``tf`` is
    (id, t, tf) restricted to the query terms, ``dfreq`` (t, df) carries
    corpus-wide document frequencies, ``dl`` (id, dl, avgdl, n_docs)."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "t")
        .join(dl, id_col)
        .withColumn(
            "term_score",
            idf
            * F.col("tf")
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    # one conditional single-row sum per term, added in sorted-term order:
    # the float summation order is engine- and parallelism-independent
    term_cols: list[Column] = [
        F.coalesce(
            F.sum(F.when(F.col("t") == t, F.col("term_score"))), F.lit(0.0)
        )
        for t in terms
    ]
    total = reduce(lambda a, c: a + c, term_cols)
    return per_term.groupBy(id_col).agg(
        F.count("*").alias("n_terms_hit"),
        F.round(total, 6).alias("score"),
    )


def tf_idf_top_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf (§2.13 — the
    keyword-extraction / topic-signal primitive of corpus curation).

    score = tf * ln(n_docs / df): every factor is either an integer
    aggregate (tf, df, n_docs) or a single transcendental over an
    integer-derived ratio — NO cross-row float summation anywhere, so the
    value is deterministic at any parallelism; rounding to 6 dp absorbs
    last-ulp libm divergence between engines, and the per-doc ranking
    orders by the ROUNDED score (term-asc tie-break), so both engines rank
    identical values identically.

    Plan shape at 100 TB: tf aggregates on the uniform (doc, term) key;
    document frequency aggregates on term (stopword skew is count-only
    with map-side partials); the df table is vocabulary-sized, so its join
    back to tf is left to AQE (shuffle join on term when the vocab
    outgrows broadcast); n_docs rides a 1-row broadcast; the final top-k
    window shuffles on the uniform doc id only."""
    toks = df.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(id_col, "term", "tf", "score", "term_rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    score_col: str = "score",
    k: int = 60,
    per_list_k: int | None = None,
    rank_names: list[str] | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
    the standard hybrid-retrieval combiner: fuse N independent rankings
    (e.g. BM25 lexical + embedding cosine) by RRF(d) = Σ_i 1/(k + rank_i(d))
    over the rankings that contain d. No score calibration needed — only
    ranks enter the formula, which is why RRF survives heterogeneous
    rankers where score interpolation needs tuning.

    Scale posture: each ranking is ranked with the distributed
    ``global_rank`` (range repartition + per-partition offsets — never a
    single-partition window over a corpus-sized relation), optionally
    truncated to its top ``per_list_k`` (candidate-set fusion, the
    production shape: fuse top-M from each ranker, not whole corpora).
    The merge is a full-outer equi-join on the id across the bounded
    candidate lists.

    Float discipline: each contribution 1/(k + rank) is one IEEE double
    division; the total adds the per-ranking columns in FIXED list order
    (a column expression, not a multi-row aggregation), so the sum is
    engine- and parallelism-independent; rounded to 6 dp.

    Ties: equal scores rank by ascending id (total order), matching the
    oracle's ``ORDER BY score DESC, id`` row_number."""
    from .ranking import global_rank

    names = rank_names or [f"rank_{i}" for i in range(len(rankings))]
    assert len(names) == len(rankings) and len(rankings) >= 1
    merged: DataFrame | None = None
    for r, name in zip(rankings, names):
        ranked = global_rank(
            r.select(F.col(id_col), F.col(score_col)),
            [F.col(score_col).desc(), F.col(id_col).asc()],
            rank_col=name,
        ).select(id_col, F.col(name).cast("int").alias(name))
        if per_list_k is not None:
            ranked = ranked.filter(F.col(name) <= per_list_k)
        merged = (
            ranked
            if merged is None
            else merged.join(ranked, id_col, "full_outer")
        )
    contribs = [
        F.coalesce(
            F.lit(1.0) / (F.lit(float(k)) + F.col(n).cast("double")),
            F.lit(0.0),
        )
        for n in names
    ]
    total = reduce(lambda a, c: a + c, contribs)
    return merged.select(
        id_col, *names, F.round(total, 6).alias("rrf_score")
    )


def _collect_tuples(df: DataFrame) -> list[tuple]:
    """Collect a bounded relation as plain tuples via one columnar Arrow
    pull — a few machine words per value instead of the ~hundreds of
    bytes a PySpark Row costs, which matters when the config-bounded
    relation is millions of rows on a small-heap driver (r9 ADVICE)."""
    try:
        tbl = df.toArrow()
    except Exception:  # non-Arrow-convertible types: fall back to rows
        return [tuple(r) for r in df.collect()]
    return list(
        zip(*(tbl.column(i).to_pylist() for i in range(tbl.num_columns)))
    )


def _mmr_greedy_driver(
    spark,
    cand: DataFrame,
    k: int,
    lam_num: int,
    lam_den: int,
    cand_rows: list[tuple] | None = None,
) -> DataFrame:
    """Driver-side integer replay of the MMR greedy loop over the
    checkpointed, config-bounded candidate relation (see
    :func:`mmr_rerank` ``loop="driver"``). Collects only integer
    micro-unit scores — the pairwise similarities are still computed by
    the engine's fixed-order float fold — so the selection trajectory is
    identical to the distributed loop's bit for bit."""
    from .similarity import dot

    a = cand.select(
        "query_id", F.col("neighbor_id").alias("a"),
        F.col("vec").alias("av"),
    )
    b = cand.select(
        F.col("query_id").alias("qb"), F.col("neighbor_id").alias("b"),
        F.col("vec").alias("bv"),
    )
    pair_rows = _collect_tuples(
        a.join(b, (F.col("query_id") == F.col("qb")) & (F.col("a") != F.col("b")))
        .select(
            "query_id", "a", "b",
            F.round(dot(F.col("av"), F.col("bv")) * 1e6, 0)
            .cast("long").alias("sim_fp"),
        )
    )
    if cand_rows is None:
        cand_rows = _collect_tuples(
            cand.select("query_id", "neighbor_id", "rel_fp", "rn")
        )

    sim: dict = {}
    for qid, ia, ib, sim_fp in pair_rows:
        sim[(qid, ia, ib)] = sim_fp
    rel: dict = {}
    by_q: dict = {}
    for qid, nid, rel_fp, rn in cand_rows:
        rel[(qid, nid)] = rel_fp
        by_q.setdefault(qid, []).append((rn, nid))

    out = []
    for qid, members in by_q.items():
        ids = [n for _, n in sorted(members)]  # rn order = rel desc, id asc
        sel = [ids[0]]
        while len(sel) < k and len(sel) < len(ids):
            best = None
            best_score = None
            for i in ids:
                if i in sel:
                    continue
                score = lam_num * rel[(qid, i)] - (lam_den - lam_num) * max(
                    sim[(qid, i, s)] for s in sel
                )
                # row_number ties break on ascending neighbor id; ids is
                # already id-ascending within equal relevance, but equal
                # SCORES can pair ids from different relevance ranks
                if (
                    best is None
                    or score > best_score
                    or (score == best_score and i < best)
                ):
                    best, best_score = i, score
            sel.append(best)
        out.extend(
            (qid, n, t + 1, rel[(qid, n)]) for t, n in enumerate(sel)
        )

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("query_id", cand.schema["query_id"].dataType),
            T.StructField(
                "neighbor_id", cand.schema["neighbor_id"].dataType
            ),
            T.StructField("mmr_rank", T.IntegerType()),
            T.StructField("rel_fp", T.LongType()),
        ]
    )
    return spark.createDataFrame(out, schema).select(
        "query_id", "neighbor_id", "mmr_rank",
        (F.col("rel_fp").cast("double") / F.lit(1e6)).alias("relevance"),
    )


def mmr_rerank(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    pool: int = 30,
    lam_num: int = 1,
    lam_den: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    loop: str = "auto",
    driver_pair_limit: int = 2_000_000,
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell & Goldstein,
    SIGIR 1998): greedily select ``k`` of the ``pool`` most relevant
    candidates, each step picking argmax of

        lam * rel(q, d)  -  (1 - lam) * max_{s in selected} sim(d, s)

    with lam = lam_num / lam_den. The retrieval-side answer to near-dup
    corpora: plain top-k returns paraphrase clusters; MMR returns one
    representative per cluster plus the next-most-relevant distinct items
    (eval-set construction, dedup-aware RAG).

    Scale posture: the DISTRIBUTED work is candidate generation — one
    broadcast-query pass over the corpus plus a per-query top-``pool``
    window, exactly ``brute_force_topk``'s plan (swap in the IVF/PQ path
    for a 100 TB corpus). The greedy loop's input is then the BOUNDED
    (queries x pool) candidate relation — config-sized, independent of
    corpus size — so ``loop`` picks where the k-step recursion runs:

    - ``"distributed"``: each iteration is a keyed agg + window over the
      candidate relation with per-iteration ``localCheckpoint`` (the
      pagerank discipline). Right when |queries| is itself large (offline
      eval-set construction over millions of probes).
    - ``"driver"``: collect ONLY the integer micro-unit scores (rel_fp,
      sim_fp — every float op already happened JVM-side) and run the
      integer argmax loop on the driver, then ship the k winners back via
      ``createDataFrame``. Same bounded-collect discipline as BPE's
      1-row winner (tokenizer.py) and prefix-sum's per-partition offsets
      (ranking.py); it replaces k-1 sequential barrier jobs with two
      small collects.
    - ``"auto"`` (default): driver when the collected pair relation is
      under ``driver_pair_limit`` rows (|cand| * pool), distributed
      above. Size the limit to the driver's heap — the default 2M
      integer 4-tuples land well under 1 GiB as a columnar Arrow pull,
      but a small-driver deployment can lower it. Under plan-audit mode
      (``checkpoints_enabled()`` false) auto ALWAYS picks distributed:
      audit/explain tooling must never trigger eager jobs or get a
      lineage-free ``createDataFrame`` result with no plan to audit.

    Float discipline: relevance and pairwise similarities are quantized to
    integer micro-units (round(cos * 1e6) as long) immediately after the
    one fixed-order dot product, so every selection compares exact
    integers — lam_num * rel_fp - (lam_den - lam_num) * maxsim_fp — and
    ties break on ascending candidate id. The whole greedy trajectory is
    therefore engine-exact whichever ``loop`` runs it (strategy-parity
    fuzzed in ``tests/test_retrieval.py``), and the oracle replays it as
    k unrolled CTEs.

    Returns (query_id, neighbor_id, mmr_rank, relevance) with relevance
    the quantized cosine as a double.
    """
    from .similarity import dot, unit_normalized

    if loop not in ("auto", "driver", "distributed"):
        raise ValueError(
            "loop must be one of 'auto', 'driver', 'distributed'; "
            f"got {loop!r}"
        )
    spark = df.sparkSession
    q = unit_normalized(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        "query_id", vec_col, "query_vec",
    )
    c = unit_normalized(
        df.repartition(spark.sparkContext.defaultParallelism, id_col)
        .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        "neighbor_id", vec_col, "vec",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "rel_fp",
            F.round(dot(F.col("query_vec"), F.col("vec")) * 1e6, 0).cast(
                "long"
            ),
        )
    )
    from .similarity import ranked_topk

    cand = ranked_topk(
        scored,
        ["query_id"],
        [F.desc("rel_fp"), F.asc("neighbor_id")],
        pool,
        rank_name="rn",
    ).select("query_id", "neighbor_id", "rel_fp", "rn", "vec")
    cand = materialize(cand)  # bounded: queries x pool rows
    cand_rows = None
    if loop == "auto":
        if not checkpoints_enabled():
            loop = "distributed"  # audit mode: no eager jobs, keep a plan
        else:
            # The decision "driver iff |cand| * pool <= driver_pair_limit"
            # needs |cand| — but a count() over the checkpointed relation
            # is a whole extra barrier job per call (the r11 A/B measured
            # it at ~0.45 s of pure scheduler latency on the bench shape,
            # the entirety of the r10 0.87 -> 1.16 s warm drift). Instead,
            # limit-guard the candidate collect the driver loop needs
            # ANYWAY: pull at most cap+1 rows; <= cap means the driver
            # path is safe and the rows are already in hand (zero extra
            # jobs), cap+1 means over-limit — pay one wasted bounded
            # collect (~= driver_pair_limit/pool rows) and go distributed.
            cap = driver_pair_limit // max(pool, 1)
            cand_rows = _collect_tuples(
                cand.select("query_id", "neighbor_id", "rel_fp", "rn")
                .limit(cap + 1)
            )
            if len(cand_rows) <= cap:
                loop = "driver"
            else:
                loop, cand_rows = "distributed", None
    if loop == "driver":
        return _mmr_greedy_driver(
            spark, cand, k, lam_num, lam_den, cand_rows=cand_rows
        )
    a = cand.select(
        "query_id", F.col("neighbor_id").alias("a"),
        F.col("vec").alias("av"),
    )
    b = cand.select(
        F.col("query_id").alias("qb"), F.col("neighbor_id").alias("b"),
        F.col("vec").alias("bv"),
    )
    pairs = (
        a.join(b, (F.col("query_id") == F.col("qb")) & (F.col("a") != F.col("b")))
        .select(
            "query_id", "a", "b",
            F.round(dot(F.col("av"), F.col("bv")) * 1e6, 0)
            .cast("long").alias("sim_fp"),
        )
    )
    pairs = materialize(pairs)  # bounded: queries x pool^2 rows
    selected = (
        cand.filter(F.col("rn") == 1)
        .select(
            "query_id", "neighbor_id", "rel_fp",
            F.lit(1).alias("mmr_rank"),
        )
    )
    selected = materialize(selected)
    cand_slim = cand.select("query_id", "neighbor_id", "rel_fp")
    for t in range(2, k + 1):
        # NB: rename the group keys — pairs/cand/selected share attribute
        # ids through the checkpointed cand lineage, and a join condition
        # whose two sides resolve to the SAME attribute is dropped as
        # trivially true, silently joining across queries
        maxsim = (
            pairs.join(
                selected.select(
                    F.col("query_id").alias("qs"),
                    F.col("neighbor_id").alias("s"),
                ),
                (F.col("query_id") == F.col("qs")) & (F.col("b") == F.col("s")),
            )
            .groupBy(
                F.col("query_id").alias("qm"), F.col("a").alias("am")
            )
            .agg(F.max("sim_fp").alias("maxsim_fp"))
        )
        rem = cand_slim.join(
            selected.select(
                F.col("query_id").alias("qs"),
                F.col("neighbor_id").alias("s"),
            ),
            (F.col("query_id") == F.col("qs"))
            & (F.col("neighbor_id") == F.col("s")),
            "left_anti",
        )
        w_sc = Window.partitionBy("query_id").orderBy(
            F.desc("score_fp"), F.asc("neighbor_id")
        )
        winner = (
            rem.join(
                maxsim,
                (F.col("query_id") == F.col("qm"))
                & (F.col("neighbor_id") == F.col("am")),
            )
            .select(
                "query_id", "neighbor_id", "rel_fp",
                (
                    F.lit(lam_num) * F.col("rel_fp")
                    - F.lit(lam_den - lam_num) * F.col("maxsim_fp")
                ).alias("score_fp"),
            )
            .withColumn("rw", F.row_number().over(w_sc))
            .filter(F.col("rw") == 1)
            .select(
                "query_id", "neighbor_id", "rel_fp",
                F.lit(t).alias("mmr_rank"),
            )
        )
        selected = materialize(selected.unionByName(winner))
    return selected.select(
        "query_id", "neighbor_id",
        F.col("mmr_rank").cast("int").alias("mmr_rank"),
        (F.col("rel_fp").cast("double") / F.lit(1e6)).alias("relevance"),
    )


N_TERM_BUCKETS = 256

_BM25_RELS = ("postings", "dfreq", "doclens", "stats")
_BM25_META = "_meta"
_BM25_GEN_RE = re.compile(
    r"^(postings|dfreq|doclens|stats)-g(\d+)$"
)


def _bm25_live(root: str) -> tuple[int, dict[str, str]]:
    """(generation id, {relation: live directory path}) — resolved
    through the newest valid generation manifest (state/manifest.py),
    falling back to the flat gen-0 layout ``write_bm25_index`` creates.
    The manifest is only considered committed if every relation's data
    directory exists (they are written BEFORE the manifest PUT)."""
    from ..state.manifest import latest_manifest

    def _valid(payload: dict) -> bool:
        dirs = payload.get("dirs", {})
        return all(
            os.path.isdir(os.path.join(root, str(dirs.get(rel, ""))))
            for rel in _BM25_RELS
        )

    got = latest_manifest(os.path.join(root, _BM25_META), valid=_valid)
    if got is None:
        return 0, {rel: os.path.join(root, rel) for rel in _BM25_RELS}
    gen, payload = got
    return gen, {
        rel: os.path.join(root, str(payload["dirs"][rel]))
        for rel in _BM25_RELS
    }


def _bm25_repair(root: str) -> None:
    """Delete-only cleanup of crash remnants: generation data dirs no
    committed manifest references (a crashed compaction's partial write,
    or a superseded generation whose removal was interrupted), the flat
    gen-0 dirs once a manifest generation is live, and manifests other
    than the winning one."""
    from ..state.manifest import prune_manifests

    if not os.path.isdir(root):
        return
    gen, dirs = _bm25_live(root)
    live = {os.path.basename(p) for p in dirs.values()}
    for e in os.scandir(root):
        if not e.is_dir() or e.name in live:
            continue
        if _BM25_GEN_RE.match(e.name) or (gen > 0 and e.name in _BM25_RELS):
            shutil.rmtree(e.path, ignore_errors=True)
    prune_manifests(
        os.path.join(root, _BM25_META), gen if gen > 0 else None
    )


def compact_bm25_index(spark: SparkSession, path: str) -> dict:
    """Fold the additive index back to its canonical minimal form (r9
    verdict #2: without this, a year of streaming drains leaves one
    dfreq delta row per (term, increment) and one stats row per
    increment — the same unbounded metadata growth
    ``compact_accumulation`` bounds for batch dirs).

    Consolidation is pure integer aggregation, so probe results are
    bit-identical pre/post (the probe already sums deltas at read
    time; compaction just moves the sum to rest): dfreq folds to one
    row per term, stats to one row, and postings/doclens — which carry
    no duplicate keys, only small files — fold to one file per bucket
    partition / a bounded file count.

    Commit is the object-store-safe manifest PUT (state/manifest.py):
    the new generation's four relation dirs are written first
    (``<rel>-g<gen>``, invisible until referenced), then one manifest
    file commits them; superseded generations are deleted afterwards
    (crash-repaired on the next run). Appends keep working after any
    number of compactions — ``_write_bm25`` resolves the live
    generation through the same manifest. Single maintenance writer:
    do not run concurrently with an append.

    Returns {"generation", "folded_dfreq_rows", "folded_stats_rows"}.
    """
    root = path.rstrip("/")
    _bm25_repair(root)
    gen, dirs = _bm25_live(root)
    new_gen = gen + 1
    names = {rel: f"{rel}-g{new_gen}" for rel in _BM25_RELS}

    dfreq = spark.read.parquet(dirs["dfreq"])
    stats = spark.read.parquet(dirs["stats"])
    dfreq_rows = dfreq.count()
    stats_rows = stats.count()
    # one consolidated row per term / one stats row; postings and doclens
    # have unique keys already — fold small files only. repartition on the
    # partition column lands each bucket in exactly one task → one file
    # per bucket directory regardless of how many appends preceded.
    (
        dfreq.groupBy("bucket", "t")
        .agg(F.sum("df").alias("df"))
        .repartition("bucket")
        .write.partitionBy("bucket")
        .parquet(os.path.join(root, names["dfreq"]))
    )
    stats.agg(
        F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl")
    ).coalesce(1).write.parquet(os.path.join(root, names["stats"]))
    (
        spark.read.parquet(dirs["postings"])
        .repartition("bucket")
        .write.partitionBy("bucket")
        .parquet(os.path.join(root, names["postings"]))
    )
    dl = spark.read.parquet(dirs["doclens"])
    dl.repartition(max(1, dl.rdd.getNumPartitions() // 8)).write.parquet(
        os.path.join(root, names["doclens"])
    )

    from ..state.manifest import put_manifest

    put_manifest(os.path.join(root, _BM25_META), new_gen, {"dirs": names})
    # committed from here; remnant removal is repaired on crash
    for p in dirs.values():
        shutil.rmtree(p, ignore_errors=True)
    _bm25_repair(root)
    return {
        "generation": new_gen,
        "folded_dfreq_rows": int(dfreq_rows),
        "folded_stats_rows": int(stats_rows),
    }


def write_bm25_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the BM25 inverted index — the build/probe separation of a
    production lexical-retrieval deployment (the text counterpart of
    ``similarity.write_ivf_index``). One tokenize pass writes:

    - ``postings/``  (t, id, tf), PARTITIONED BY the term's hash bucket
      (``pmod(xxhash64(t), 256)``) — a probe reads only its terms' bucket
      partitions (filesystem partition pruning), and bucketing rather
      than term-value partitioning keeps the directory count fixed at 256
      instead of vocabulary-sized (a web corpus has 1e8+ terms; 1e8 tiny
      directories is a filesystem DoS, the classic small-files failure);
    - ``dfreq/``     (t, df) — corpus-wide document frequencies, same
      bucket layout;
    - ``doclens/``   (id, dl) per-document token counts;
    - ``stats/``     1 row (n_docs, sum_dl).

    Scoring from the index replays :func:`bm25_scores` exactly — both
    paths share ``_score_bm25_terms`` — so index-backed answers inherit
    the inline operator's differential oracle."""
    _write_bm25(df, path, text_col, id_col, mode="overwrite")


def append_bm25_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """O(delta) index maintenance for a growing corpus (the streaming
    corpus twin drains new documents every cycle; a full
    :func:`write_bm25_index` rebuild per drain re-tokenizes history).
    New documents' postings and doc-lengths APPEND into their existing
    term-hash bucket partitions — partition-local file adds, nothing
    rewritten — and the dfreq/stats relations are additive: each
    increment appends per-term df deltas and one (n_docs, sum_dl) delta
    row, which the probe sums at read time. All counts are integers, so
    the summed increments equal a full rebuild EXACTLY and the
    incremental index inherits the inline operator's oracle through the
    shared scoring tail.

    Precondition: ``df`` holds documents whose ids are NOT already
    indexed (the state store's append_new contract — dedup upstream);
    re-appending an indexed id would double its postings.

    Reference analog: the incremental hash-state append
    (/root/reference/dags/dreem.py:48-67) — extend, never rebuild."""
    _write_bm25(df, path, text_col, id_col, mode="append")


def _write_bm25(
    df: DataFrame, path: str, text_col: str, id_col: str, mode: str
) -> None:
    root = path.rstrip("/")
    if mode == "overwrite":
        # a fresh index: clear every generation + manifest, restart flat
        shutil.rmtree(root, ignore_errors=True)
        dirs = {rel: os.path.join(root, rel) for rel in _BM25_RELS}
    else:
        # appends land in the LIVE generation's directories — compaction
        # (compact_bm25_index) may have moved them off the flat layout
        _, dirs = _bm25_live(root)
    # persist the term-frequency relation: dl/postings/dfreq/stats all
    # fan out from it, and without the pin each write re-triggers the
    # explode/tokenize lineage — three corpus tokenizations per build
    with reuse(
        df.select(F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("t"))
        .groupBy(id_col, "t")
        .agg(F.count("*").alias("tf"))
    ) as tf:
        dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
        dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
        bucket = F.pmod(F.xxhash64("t"), F.lit(N_TERM_BUCKETS)).cast("int")
        tf.withColumn("bucket", bucket).write.mode(mode).partitionBy(
            "bucket"
        ).parquet(dirs["postings"])
        dfreq.withColumn("bucket", bucket).write.mode(mode).partitionBy(
            "bucket"
        ).parquet(dirs["dfreq"])
        dl.write.mode(mode).parquet(dirs["doclens"])
        dl.agg(
            F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
        ).write.mode(mode).parquet(dirs["stats"])


def bm25_scores_from_index(
    spark: SparkSession,
    path: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """Score a query against the persisted index: reads ONLY the query
    terms' bucket partitions of postings/dfreq (plus the id-keyed doc
    lengths for the matched docs), never re-tokenizing the corpus. Output
    is row-identical to ``bm25_scores`` on the indexed corpus."""
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    root = path.rstrip("/")
    _, dirs = _bm25_live(root)
    # the terms' buckets via ONE literal plan over the engine's own hash
    # expression (|terms| rows, no corpus scan) — a driver reimplementation
    # of xxhash64 could drift from the write-side bucket column
    buckets = sorted({
        r["b"]
        for r in spark.createDataFrame([(t,) for t in terms], "t string")
        .select(
            F.pmod(F.xxhash64("t"), F.lit(N_TERM_BUCKETS))
            .cast("int")
            .alias("b")
        )
        .collect()
    })
    tf = (
        spark.read.parquet(dirs["postings"])
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("t").isin(terms))
        .select(id_col, "t", "tf")
    )
    # dfreq and stats are stored ADDITIVELY (append_bm25_index writes
    # per-increment delta rows); summing the integer deltas here makes
    # the incremental index bit-identical to a full rebuild
    dfreq = (
        spark.read.parquet(dirs["dfreq"])
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("t").isin(terms))
        .groupBy("t")
        .agg(F.sum("df").alias("df"))
    )
    stats = spark.read.parquet(dirs["stats"]).agg(
        F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl")
    )
    dl = (
        spark.read.parquet(dirs["doclens"])
        .crossJoin(F.broadcast(stats))
        .withColumn("avgdl", F.col("sum_dl") / F.col("n_docs"))
    )
    return _score_bm25_terms(tf, dfreq, dl, terms, k1, b, id_col)
