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

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plan_audit import checkpoints_enabled, materialize
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
    """Scoring tail of :func:`bm25_scores`. ``tf`` is (id, t, tf)
    restricted to the query terms, ``dfreq`` (t, df) carries corpus-wide
    document frequencies, ``dl`` (id, dl, avgdl, n_docs)."""
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
