"""BM25 retrieval scoring (operators/retrieval.py)."""

import pytest

from ideafast_etl_spark.operators.retrieval import bm25_scores


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_ranks_and_filters(spark):
    docs = _docs(
        spark,
        [
            (1, "spark spark spark filler filler"),
            (2, "spark filler filler filler filler"),
            (3, "nothing relevant here at all"),
            (4, "spark query filler filler filler"),
        ],
    )
    out = {r.doc_id: r for r in bm25_scores(docs, ["spark", "query"]).collect()}
    assert 3 not in out  # no query terms -> absent
    assert out[1].n_terms_hit == 1 and out[4].n_terms_hit == 2
    # higher tf scores higher (same doc length)
    assert out[1].score > out[2].score
    # two matching terms beat one occurrence of one term
    assert out[4].score > out[2].score
    assert all(r.score > 0 for r in out.values())


def test_bm25_deterministic_across_partitioning(spark):
    rows = [(i, ("spark query " if i % 3 == 0 else "") + "x y z w") for i in range(60)]
    docs = _docs(spark, rows)
    a = sorted(map(tuple, bm25_scores(docs, ["spark", "query"]).collect()))
    b = sorted(
        map(tuple, bm25_scores(docs.repartition(13), ["spark", "query"]).collect())
    )
    assert a == b


def test_bm25_rare_term_outweighs_common(spark):
    # 'rare' appears in 1 doc, 'common' in all: idf must dominate
    rows = [(i, "common " + ("rare " if i == 0 else "") + "pad pad") for i in range(20)]
    out = {r.doc_id: r for r in bm25_scores(_docs(spark, rows), ["common", "rare"]).collect()}
    contribution_rare = out[0].score - out[1].score  # doc0 = common+rare, doc1 = common
    assert contribution_rare > out[1].score  # rare term's score > common term's


def test_rrf_fuse_math_and_outer_semantics(spark):
    from ideafast_etl_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 1.0)], "doc_id long, score double"
    )
    b = spark.createDataFrame(
        [(2, 0.9), (4, 0.8)], "doc_id long, score double"
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in rrf_fuse([a, b], k=60, rank_names=["ra", "rb"]).collect()
    }
    assert out[1]["ra"] == 1 and out[1]["rb"] is None
    assert out[2]["ra"] == 2 and out[2]["rb"] == 1
    assert out[4]["ra"] is None and out[4]["rb"] == 2
    assert abs(out[2]["rrf_score"] - round(1 / 62 + 1 / 61, 6)) < 1e-9
    assert abs(out[1]["rrf_score"] - round(1 / 61, 6)) < 1e-9
    # doc 2 (in both lists) outranks every single-list doc
    assert out[2]["rrf_score"] > max(
        out[d]["rrf_score"] for d in out if d != 2
    )


def test_rrf_fuse_per_list_k_truncates(spark):
    from ideafast_etl_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(10)], "doc_id long, score double"
    )
    out = rrf_fuse([a], k=60, per_list_k=3, rank_names=["ra"]).collect()
    assert sorted(r["doc_id"] for r in out) == [0, 1, 2]


def test_rrf_fuse_ties_break_by_id(spark):
    from ideafast_etl_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(5, 1.0), (3, 1.0), (9, 1.0)], "doc_id long, score double"
    )
    out = {r["doc_id"]: r["ra"] for r in
           rrf_fuse([a], rank_names=["ra"]).collect()}
    assert out == {3: 1, 5: 2, 9: 3}


# --- MMR diversified re-rank -------------------------------------------------


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_mmr_rank1_is_pure_relevance_argmax(spark):
    from ideafast_etl_spark.operators.retrieval import mmr_rerank

    # query is vec 0; vec 1 is the most relevant neighbour by construction
    corpus = _vecs(
        spark,
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.5, 0.5, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 1.0]),
        ],
    )
    q = corpus.filter("vec_id = 0")
    out = mmr_rerank(corpus, q, k=3, pool=4).collect()
    first = [r for r in out if r.mmr_rank == 1][0]
    assert first.neighbor_id == 1


def test_mmr_diversifies_past_a_near_duplicate(spark):
    from ideafast_etl_spark.operators.retrieval import mmr_rerank

    # vecs 1 and 2 are near-identical and most relevant; vec 3 is less
    # relevant but orthogonal to them. Plain top-2 = {1, 2}; MMR at
    # lambda=1/2 must skip the duplicate and take 3 at rank 2.
    corpus = _vecs(
        spark,
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.9, 0.1001, 0.0]),
            (3, [0.5, 0.0, 0.6]),
            (4, [0.0, 1.0, 1.0]),
        ],
    )
    q = corpus.filter("vec_id = 0")
    picks = {
        r.mmr_rank: r.neighbor_id
        for r in mmr_rerank(corpus, q, k=3, pool=4).collect()
    }
    assert picks[1] in (1, 2)
    assert picks[2] == 3  # the near-dup of rank 1 is deferred
    assert picks[3] in (1, 2)  # ...but not lost


def test_mmr_no_replacement_and_repartition_determinism(spark):
    from ideafast_etl_spark.operators.retrieval import mmr_rerank

    rows = [
        (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)])
        for i in range(40)
    ]
    corpus = _vecs(spark, rows)
    q = corpus.filter("vec_id < 2")
    a = sorted(map(tuple, mmr_rerank(corpus, q, k=5, pool=12).collect()))
    b = sorted(
        map(
            tuple,
            mmr_rerank(corpus.repartition(17), q, k=5, pool=12).collect(),
        )
    )
    assert a == b
    for qid in (0, 1):
        ids = [r[1] for r in a if r[0] == qid]
        assert len(ids) == 5 and len(set(ids)) == 5


def _mmr_python_twin(vecs, query_ids, k, pool, lam_num=1, lam_den=2):
    """Bit-exact driver-side replay of mmr_rerank: every float op copies
    the engine's — norms via the same explicit left-to-right fold as
    ``l2_norm`` (numpy's pairwise summation diverges above dim 8), and
    rounding half-AWAY-from-zero like Spark's ``F.round`` (np.round is
    half-to-even and flips exact .5 micro-unit ties)."""
    import math

    ids = sorted(vecs)

    def _norm(v):
        s = 0.0
        for x in v:
            s += float(x) * float(x)
        return math.sqrt(s)

    unit = {i: [float(x) / _norm(vecs[i]) for x in vecs[i]] for i in ids}

    def fp(a, b):
        # fixed left-to-right summation == F.aggregate's fold order
        s = 0.0
        for x, y in zip(unit[a], unit[b]):
            s += x * y
        v = s * 1e6
        return int(math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5))

    out = []
    for q in query_ids:
        cand = sorted(
            (i for i in ids if i != q),
            key=lambda i: (-fp(q, i), i),
        )[:pool]
        rel = {i: fp(q, i) for i in cand}
        sel = [max(cand, key=lambda i: (rel[i], -i))]  # argmax rel, id asc
        while len(sel) < k and len(sel) < len(cand):
            rem = [i for i in cand if i not in sel]
            best = max(
                rem,
                key=lambda i: (
                    lam_num * rel[i]
                    - (lam_den - lam_num) * max(fp(i, s) for s in sel),
                    -i,
                ),
            )
            sel.append(best)
        out.extend(
            (q, n, r + 1, rel[n] / 1e6) for r, n in enumerate(sel)
        )
    return sorted(out)


@pytest.mark.parametrize("loop", ["driver", "distributed"])
def test_mmr_matches_python_twin_fuzz(spark, loop):
    import numpy as np

    from ideafast_etl_spark.operators.retrieval import mmr_rerank

    for seed in (0, 7, 23):
        rng = np.random.default_rng(seed)
        n, dim = 60, 6
        vecs = {i: rng.normal(size=dim).tolist() for i in range(n)}
        df = _vecs(spark, [(i, v) for i, v in vecs.items()])
        q = df.filter("vec_id < 3")
        got = sorted(
            (r.query_id, r.neighbor_id, r.mmr_rank, r.relevance)
            for r in mmr_rerank(df, q, k=6, pool=15, loop=loop).collect()
        )
        want = _mmr_python_twin(vecs, [0, 1, 2], k=6, pool=15)
        assert got == want, f"seed {seed} loop {loop}"


def test_mmr_loop_strategy_parity_with_planted_ties(spark):
    """driver ≡ distributed on a tie-heavy corpus: clusters of identical
    vectors force exact micro-unit score ties, so any tie-break divergence
    between the window's (desc score, asc id) and the driver argmax shows
    up as a different trajectory."""
    from ideafast_etl_spark.operators.retrieval import mmr_rerank

    rows = []
    for i in range(36):
        base = i % 4  # nine identical copies of each of 4 directions
        rows.append(
            (i, [1.0 if d == base else 0.25 for d in range(6)])
        )
    corpus = _vecs(spark, rows)
    q = corpus.filter("vec_id < 2")
    a = sorted(
        map(
            tuple,
            mmr_rerank(corpus, q, k=8, pool=20, loop="driver").collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            mmr_rerank(
                corpus, q, k=8, pool=20, loop="distributed"
            ).collect(),
        )
    )
    assert a == b and len(a) == 16


# --- persisted BM25 index ----------------------------------------------------


def test_mmr_rejects_unknown_loop(spark):
    """An unrecognized loop value must error, not silently fall through
    to the distributed branch (r9 ADVICE)."""
    import pytest

    from ideafast_etl_spark.operators.retrieval import mmr_rerank

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    q = df.filter("vec_id = 0")
    with pytest.raises(ValueError, match="loop"):
        mmr_rerank(df, q, k=2, pool=3, loop="Driver")


def test_mmr_auto_under_plan_audit_keeps_a_plan_and_runs_no_jobs(spark):
    """loop='auto' in no_checkpoints (plan-audit) mode must pick the
    distributed branch WITHOUT running the eager candidate count — the
    result needs an auditable lineage, and audit tooling must never
    trigger full jobs (r9 ADVICE)."""
    from ideafast_etl_spark.operators.retrieval import mmr_rerank
    from ideafast_etl_spark.plan_audit import no_checkpoints

    df = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    q = df.filter("vec_id < 2")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    with no_checkpoints():
        out = mmr_rerank(df, q, k=2, pool=3, loop="auto")
        plan = out._jdf.queryExecution().optimizedPlan().toString()
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before  # construction ran zero Spark jobs
    assert "LocalRelation" not in plan.split("\n")[0]  # a real plan, not
    # a collected createDataFrame result
