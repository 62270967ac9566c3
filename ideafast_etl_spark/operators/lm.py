"""Distributed n-gram language model: training (count tables) and add-k
perplexity scoring (SURVEY.md §2.13 — LLM-pipeline extension).

Perplexity scoring with an n-gram LM is the classic corpus-quality /
domain-match signal (CCNet, Gopher/MassiveText, RedPajama all filter on an
LM perplexity); this implements it as pure DataFrame algebra so the same
code trains on 100 TB:

1. tokenize + explode once, build n-grams JVM-side via
   ``transform(sequence(...))`` over the token array (no Python in the hot
   path),
2. training = two keyed aggregations: counts of (context, word) and of
   (context) — map-side partial aggs, shuffle on the uniform gram keys,
3. vocabulary size = one 1-row distinct aggregate, broadcast back,
4. scoring = two equi-joins of the document grams against the
   vocabulary-sized count tables (AQE picks broadcast vs shuffle as the
   vocab grows), then one keyed agg per doc.

Float discipline (REPRO.md): each gram's add-k log-probability
``ln((c_ngram + k) / (c_context + k*V))`` is derived from integer counts,
quantized to a fixed-point long (1e-6 grid) and summed as LONGS — an
associative integer sum, so any partitioning and any engine produce the
identical per-document total; the single final ``exp`` runs on identical
inputs in both engines and 4-dp rounding absorbs last-ulp libm divergence.

Reference parity: the reference pipeline has no LM scoring (nothing in
``ideafast_etl/``); this is part of the training-data extension surface the
build brief mandates alongside dedup/similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import norm_text

_FP = 1_000_000  # fixed-point grid for log-prob quantization


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, t) token-array relation — THE one tokenize pass; everything
    else (grams, vocab) derives from it."""
    return df.select(
        F.col(id_col), F.split(norm_text(F.col(text_col)), " ").alias("t")
    )


def _grams_from_tokens(toks: DataFrame, n: int, id_col: str) -> DataFrame:
    """(id, ctx, w) rows from a token-array relation: every n-gram as
    (n-1)-word context + next word, via one generator explode JVM-side."""
    assert n >= 2, "need at least bigrams (n >= 2)"
    gram = (
        f"transform(sequence(1, size(t) - {n - 1}), i -> "
        f"struct(array_join(slice(t, i, {n - 1}), ' ') AS ctx, "
        f"element_at(t, i + {n - 1}) AS w))"
    )
    return (
        toks.filter(F.size("t") >= n)
        .select(F.col(id_col), F.explode(F.expr(gram)).alias("g"))
        .select(id_col, F.col("g.ctx").alias("ctx"), F.col("g.w").alias("w"))
    )


def _grams(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(id, ctx, w) rows: every n-gram as (n-1)-word context + next word.
    Built entirely JVM-side: one token split + one generator explode."""
    return _grams_from_tokens(_tokens(df, text_col, id_col), n, id_col)


def train_ngram_lm(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Count tables for an n-gram LM over the corpus.

    Returns ``(ngram_counts, context_counts, vocab)`` where
    ``ngram_counts`` is (ctx, w, c_nw), ``context_counts`` is (ctx, c_ctx)
    and ``vocab`` is a 1-row (n_vocab) aggregate. All three are lazy
    DataFrames — two shuffles on the gram keys, one global distinct-count.
    """
    grams = _grams(df, n, text_col, id_col)
    ngram_counts = grams.groupBy("ctx", "w").agg(
        F.count(F.lit(1)).alias("c_nw")
    )
    # c(ctx) = Σ_w c(ctx, w): roll up the (much smaller) ngram table
    # instead of re-shuffling the full per-occurrence gram relation a
    # second time (Catalyst reuses the ngram_counts exchange)
    context_counts = ngram_counts.groupBy("ctx").agg(
        F.sum("c_nw").alias("c_ctx")
    )
    vocab = (
        df.select(
            F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("w")
        )
        .agg(F.count_distinct("w").alias("n_vocab"))
    )
    return ngram_counts, context_counts, vocab


def score_perplexity(
    df: DataFrame,
    ngram_counts: DataFrame,
    context_counts: DataFrame,
    vocab: DataFrame,
    n: int = 2,
    k: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document add-k perplexity under the trained n-gram LM.

    Output: (id, n_ngrams, avg_logprob, perplexity) — avg_logprob is the
    mean natural-log probability (6 dp), perplexity = exp(-avg) (4 dp).
    Unseen (ctx, w) falls back to ``k / (c_ctx + k*V)``; an unseen context
    scores the uniform ``1/V``. Deterministic at any parallelism: the sum
    is over fixed-point longs (see module docstring).

    The per-occurrence gram stream is reduced to DISTINCT (id, ctx, w)
    rows with an occurrence count BEFORE the lookup joins — a repeated
    gram contributes c_occ * lp_fp, an exact integer multiply, so the
    per-doc total is unchanged bit for bit while the join probe shrinks
    from occurrences to distinct grams. On repetitive documents that gap
    is the whole game: the giant-doc sweep (tools/scale_check.py
    --doc-skew — 1% of docs are 500 repeats of themselves) measured the
    occurrence-stream form super-linear between 10x and 100x because the
    giants' token mass swamped four string-keyed join shuffles; the
    distinct form keeps per-doc join work O(distinct grams)."""
    occ = _grams(df, n, text_col, id_col).groupBy(
        id_col, "ctx", "w"
    ).agg(F.count(F.lit(1)).alias("c_occ"))
    return _addk_scores(occ, ngram_counts, context_counts, vocab, k, id_col)


def _addk_scores(
    occ: DataFrame,
    ngram_counts: DataFrame,
    context_counts: DataFrame,
    vocab: DataFrame,
    k: int,
    id_col: str,
) -> DataFrame:
    """Add-k scoring tail over the DISTINCT (id, ctx, w, c_occ) probe
    relation — shared by :func:`score_perplexity` and the fused
    single-tokenize :func:`ngram_lm_perplexity`."""
    joined = (
        occ.join(ngram_counts, ["ctx", "w"], "left")
        .join(context_counts, ["ctx"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.col("c_occ"),
            F.coalesce(F.col("c_nw"), F.lit(0)).alias("c_nw"),
            F.coalesce(F.col("c_ctx"), F.lit(0)).alias("c_ctx"),
            F.col("n_vocab"),
        )
    )
    lp_fp = F.round(
        (
            F.log(F.col("c_nw") + F.lit(k))
            - F.log(F.col("c_ctx") + F.lit(k) * F.col("n_vocab"))
        )
        * F.lit(_FP)
    ).cast("long")
    per_doc = joined.select(
        F.col(id_col), F.col("c_occ"), lp_fp.alias("lp")
    ).groupBy(id_col).agg(
        F.sum("c_occ").alias("n_ngrams"),
        F.sum(F.col("c_occ") * F.col("lp")).alias("__s"),
    )
    # report avg_logprob via INTEGER-space rounding: S and n are exact
    # integers, so round(S/n) agrees across engines even at exact .5
    # midpoints (both round away from zero on exactly-representable .5s),
    # unlike ROUND(S/1e6/n, 6) whose 6-decimal midpoint is not exactly
    # representable and splits Spark's shortest-repr rounding from
    # DuckDB's multiply-and-round (seen once at sf0.001).
    avg = F.col("__s").cast("double") / F.lit(_FP) / F.col("n_ngrams")
    avg_fp = F.round(
        F.col("__s").cast("double") / F.col("n_ngrams")
    ).cast("long")
    return per_doc.select(
        F.col(id_col),
        F.col("n_ngrams"),
        (avg_fp.cast("double") / F.lit(_FP)).alias("avg_logprob"),
        F.round(F.exp(-avg), 4).alias("perplexity"),
    )


def score_kn_perplexity(
    df: DataFrame,
    ngram_counts: DataFrame,
    context_counts: DataFrame,
    vocab: DataFrame,
    n: int = 2,
    discount: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document perplexity under interpolated Kneser-Ney smoothing —
    the smoothing CCNet-grade 5-gram filters actually use (Kneser & Ney
    1995; Chen & Goodman 1998):

        p(w|ctx) = max(c(ctx,w) - d, 0)/c(ctx)
                 + ((d * N1+(ctx,*)) / c(ctx)) * p_cont(w)
        p_cont(w) = (N1+(*,w) + 1) / (n_bigram_types + V)   (add-1 escape
                    so unseen words keep nonzero mass)
        unseen context -> p(w|ctx) = p_cont(w)

    Every quantity is an integer count aggregate; d = 0.75 is exactly
    representable in binary, so the float expression tree evaluates
    bit-identically in any engine, and the per-doc sum uses the same
    fixed-point-long discipline as :func:`score_perplexity`. Plan shape:
    three extra vocabulary-sized aggregates (continuation counts) that
    join on the same gram keys — no new shuffle classes. Like
    :func:`score_perplexity`, the probe side is the DISTINCT (id, ctx, w)
    relation with an occurrence count (c_occ * lp_fp is an exact integer
    multiply), so repetitive giant documents cost O(distinct grams) in
    every join, not O(tokens)."""
    occ = _grams(df, n, text_col, id_col).groupBy(
        id_col, "ctx", "w"
    ).agg(F.count(F.lit(1)).alias("c_occ"))
    return _kn_scores(
        occ, ngram_counts, context_counts, vocab, discount, id_col
    )


def _kn_scores(
    occ: DataFrame,
    ngram_counts: DataFrame,
    context_counts: DataFrame,
    vocab: DataFrame,
    discount: float,
    id_col: str,
) -> DataFrame:
    """Kneser-Ney scoring tail over the DISTINCT (id, ctx, w, c_occ)
    probe relation — shared by :func:`score_kn_perplexity` and the fused
    single-tokenize :func:`ngram_lm_perplexity`. The continuation counts
    derive from ``ngram_counts``, so no additional corpus pass."""
    n1p_ctx = ngram_counts.groupBy("ctx").agg(
        F.count(F.lit(1)).alias("n1p_ctx")
    )
    n1p_left = ngram_counts.groupBy("w").agg(
        F.count(F.lit(1)).alias("n1p_left")
    )
    n_types = ngram_counts.agg(F.count(F.lit(1)).alias("n_types"))
    joined = (
        occ.join(ngram_counts, ["ctx", "w"], "left")
        .join(context_counts, ["ctx"], "left")
        .join(n1p_ctx, ["ctx"], "left")
        .join(n1p_left, ["w"], "left")
        .crossJoin(F.broadcast(n_types))
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.col("c_occ"),
            F.coalesce(F.col("c_nw"), F.lit(0)).cast("double").alias("c_nw"),
            F.coalesce(F.col("c_ctx"), F.lit(0)).cast("double").alias("c_ctx"),
            F.coalesce(F.col("n1p_ctx"), F.lit(0)).cast("double").alias("n1p_ctx"),
            F.coalesce(F.col("n1p_left"), F.lit(0)).alias("n1p_left"),
            F.col("n_types"),
            F.col("n_vocab"),
        )
    )
    d = F.lit(float(discount))
    pcont = (F.col("n1p_left") + F.lit(1)).cast("double") / (
        F.col("n_types") + F.col("n_vocab")
    ).cast("double")
    p_seen_ctx = (
        F.greatest(F.col("c_nw") - d, F.lit(0.0)) / F.col("c_ctx")
    ) + ((d * F.col("n1p_ctx")) / F.col("c_ctx")) * pcont
    p = F.when(F.col("c_ctx") > 0, p_seen_ctx).otherwise(pcont)
    lp_fp = F.round(F.log(p) * F.lit(_FP)).cast("long")
    per_doc = joined.select(
        F.col(id_col), F.col("c_occ"), lp_fp.alias("lp")
    ).groupBy(id_col).agg(
        F.sum("c_occ").alias("n_ngrams"),
        F.sum(F.col("c_occ") * F.col("lp")).alias("__s"),
    )
    # report avg_logprob via INTEGER-space rounding: S and n are exact
    # integers, so round(S/n) agrees across engines even at exact .5
    # midpoints (both round away from zero on exactly-representable .5s),
    # unlike ROUND(S/1e6/n, 6) whose 6-decimal midpoint is not exactly
    # representable and splits Spark's shortest-repr rounding from
    # DuckDB's multiply-and-round (seen once at sf0.001).
    avg = F.col("__s").cast("double") / F.lit(_FP) / F.col("n_ngrams")
    avg_fp = F.round(
        F.col("__s").cast("double") / F.col("n_ngrams")
    ).cast("long")
    return per_doc.select(
        F.col(id_col),
        F.col("n_ngrams"),
        (avg_fp.cast("double") / F.lit(_FP)).alias("avg_logprob"),
        F.round(F.exp(-avg), 4).alias("perplexity"),
    )


def ngram_lm_perplexity(
    df: DataFrame,
    n: int = 2,
    k: int = 1,
    smoothing: str = "addk",
    discount: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
) -> DataFrame:
    """Train-and-score over ONE corpus with ONE gram pass (r9 verdict
    #5). ``train_ngram_lm`` + ``score_*`` compose as three independent
    tokenize+explode passes (train grams, score grams, vocab distinct)
    with TWO full-size gram-stream shuffles; at the 100x sweep their
    combined shuffle left page cache. Here every training count rolls up
    from the SAME distinct per-doc gram relation ``occ`` (id, ctx, w,
    c_occ) the probe side scores against:

        c(ctx, w) = Σ_docs c_occ      — an exact integer identity,

    so the per-occurrence gram stream is exploded and shuffled ONCE (the
    occ aggregate — AQE's stage cache reuses the identical exchange
    across the probe and training consumers) and the training tables are
    rollups of its bounded output. The vocabulary distinct keeps its own
    tokenize of the raw text (it must see tokens of sub-n-gram docs that
    the gram stream excludes): 2 corpus passes total, down from 3, and
    one corpus-sized shuffle, down from 2.

    Output is bit-identical to the composed form — same count tables,
    same fixed-point scoring tail (``_addk_scores`` / ``_kn_scores`` are
    shared code), so it inherits the composed operators' oracles.

    ``materialize=False`` (default): fully lazy (no persist, no
    checkpoint), the audited plan IS the production plan. The KN tail
    consumes ``ngram_counts`` four ways (the probe join, both
    continuation rollups, the type total), and lazily each consumer
    re-derives it from the corpus-sized ``occ`` exchange unless AQE's
    stage cache happens to line the subtrees up — the r10 doc-skew A/B
    measured the fused-lazy form LOSING to composed under full
    materialization for exactly this reason (881.8 vs 774.6 s cold).

    ``materialize=True`` (r11 verdict #5 — the bucket-stage posture):
    ``occ`` is persisted across its 2 + smoothing-dependent consumers,
    ``ngram_counts`` is checkpointed (gram-TYPE-count table, vocabulary-
    bounded — every rollup and join then reads a materialized relation),
    and the doc-count-sized scored result is checkpointed before the
    ``occ`` cache is released (the minhash shingle-cache lifecycle). One
    gram pass, one corpus-sized shuffle, everything downstream bounded.
    No-op under plan-audit mode: full lineage, no eager job.

    ``smoothing``: "addk" (add-k, see :func:`score_perplexity`) or "kn"
    (interpolated Kneser-Ney, see :func:`score_kn_perplexity`)."""
    from contextlib import nullcontext

    from .. import plan_audit

    if smoothing not in ("addk", "kn"):
        raise ValueError(
            f"smoothing must be 'addk' or 'kn'; got {smoothing!r}"
        )
    toks = _tokens(df, text_col, id_col)
    occ = (
        _grams_from_tokens(toks, n, id_col)
        .groupBy(id_col, "ctx", "w")
        .agg(F.count(F.lit(1)).alias("c_occ"))
    )
    with (plan_audit.reuse(occ) if materialize else nullcontext(occ)) as occ:
        ngram_counts = occ.groupBy("ctx", "w").agg(
            F.sum("c_occ").alias("c_nw")
        )
        if materialize:
            # gram-type counts: bounded by vocabulary², in practice the
            # distinct-gram table — small enough that every one of its
            # four consumers should read it materialized, not re-shuffle
            # the corpus
            ngram_counts = plan_audit.materialize(ngram_counts)
        context_counts = ngram_counts.groupBy("ctx").agg(
            F.sum("c_nw").alias("c_ctx")
        )
        vocab = toks.select(F.explode("t").alias("w")).agg(
            F.count_distinct("w").alias("n_vocab")
        )
        if smoothing == "addk":
            result = _addk_scores(
                occ, ngram_counts, context_counts, vocab, k, id_col
            )
        else:
            result = _kn_scores(
                occ, ngram_counts, context_counts, vocab, discount, id_col
            )
        # doc-count-sized
        return plan_audit.materialize(result) if materialize else result
