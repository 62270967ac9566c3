"""Distributed logistic-regression quality classifier
(operators/classifier.py): bit-exact numpy twin, partitioning
determinism, learning sanity, and the shuffle-free scoring plan."""

import pytest
from pyspark.sql import functions as F

from ideafast_etl_spark.operators.classifier import (
    doc_features,
    numpy_twin,
    quality_labels,
    score_logreg,
    train_logreg,
)

DIM = 64


@pytest.fixture(scope="module")
def corpus(spark):
    # separable-ish: label-1 docs say "good clean prose", label-0 repeat junk
    rows = []
    for i in range(40):
        if i % 2:
            rows.append((i, f"good clean prose text number {i} flows well", 1))
        else:
            rows.append((i, "zz qq " * (3 + i % 4), 0))
    return rows


def _spark_train(spark, rows, iters=6):
    df = spark.createDataFrame(rows, ["doc_id", "text", "label"])
    feats = doc_features(df, dim=DIM)
    labels = df.select("doc_id", "label")
    w = train_logreg(feats, labels, dim=DIM, iters=iters)
    probs = {
        r.doc_id: r.prob for r in score_logreg(feats, w).collect()
    }
    return w, probs


def test_bit_exact_numpy_twin(spark, corpus):
    w_s, p_s = _spark_train(spark, corpus)
    w_n, p_n = numpy_twin(corpus, dim=DIM, iters=6)
    assert w_s == pytest.approx(w_n, abs=0)  # bit-identical
    assert p_s == p_n


def test_partitioning_determinism(spark, corpus):
    df1 = spark.createDataFrame(corpus, ["doc_id", "text", "label"])
    df2 = df1.repartition(13, "text")
    f1, f2 = doc_features(df1, dim=DIM), doc_features(df2, dim=DIM)
    lab = df1.select("doc_id", "label")
    assert train_logreg(f1, lab, dim=DIM, iters=4) == train_logreg(
        f2, lab, dim=DIM, iters=4
    )


def test_learns_separable_labels(spark, corpus):
    _, probs = _spark_train(spark, corpus, iters=12)
    good = [probs[i] for i in range(40) if i % 2]
    bad = [probs[i] for i in range(40) if not i % 2]
    assert min(good) > max(bad)  # fully separates the two clusters


def test_scoring_is_shuffle_free(spark, corpus):
    df = spark.createDataFrame(corpus, ["doc_id", "text", "label"])
    feats = doc_features(df, dim=DIM).persist()
    feats.count()
    plan = score_logreg(feats, [0.1] * (DIM + 1))._jdf.queryExecution().executedPlan().toString()
    # nothing after the cached features may shuffle
    assert "Exchange" not in plan.split("InMemoryTableScan")[0]
    feats.unpersist()


def test_quality_labels_threshold(spark):
    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over a lazy dog near the river bank today"),
         (1, "!!!! ???? ....")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.label for r in quality_labels(df).collect()}
    assert got[0] == 1 and got[1] == 0


def test_train_and_score_matches_composed(spark, corpus):
    """r13: the fused train+score operator (feats persisted across the
    training join and the scoring pass, doc count folded into the first
    gradient job) must return exactly what the composed form returns."""
    from ideafast_etl_spark.operators.classifier import train_and_score_logreg

    df = spark.createDataFrame(corpus, ["doc_id", "text", "label"])
    feats = doc_features(df, dim=DIM)
    labels = df.select("doc_id", "label")
    w = train_logreg(feats, labels, dim=DIM, iters=5)
    composed = {
        (r.doc_id, r.prob, r.predicted)
        for r in score_logreg(feats, w).collect()
    }
    fused = {
        (r.doc_id, r.prob, r.predicted)
        for r in train_and_score_logreg(
            feats, labels, dim=DIM, iters=5
        ).collect()
    }
    assert fused == composed


def test_empty_labels(spark):
    df = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    feats = doc_features(df, dim=DIM)
    w = train_logreg(
        feats, df.select("doc_id").withColumn("label", F.lit(1)).limit(0),
        dim=DIM, iters=3,
    )
    assert w == [0.0] * (DIM + 1)


def test_train_and_score_partial_labels_same_rows_under_audit(spark, corpus):
    """With labels for only half the docs, the cached path and the
    plan-audit path both score the ``feats ⋈ labels`` population — the
    same rows, bit for bit."""
    from ideafast_etl_spark.operators.classifier import train_and_score_logreg
    from ideafast_etl_spark.plan_audit import no_checkpoints

    df = spark.createDataFrame(corpus, ["doc_id", "text", "label"])
    feats = doc_features(df, dim=DIM)
    labels = df.filter(F.col("doc_id") < 20).select("doc_id", "label")

    def run():
        return sorted(
            map(tuple, train_and_score_logreg(
                feats, labels, dim=DIM, iters=3
            ).collect())
        )

    cached = run()
    with no_checkpoints():
        audited = run()
    assert audited == cached
    assert [r[0] for r in cached] == list(range(20))


def test_features_without_bias_entry_raise(spark):
    """A hand-built ``feats`` lacking the ``idx == dim`` bias entry cannot
    yield a doc count; training must fail loudly instead of returning
    all-zero weights."""
    feats = spark.createDataFrame(
        [(0, [(1, 2), (5, 1)]), (1, [(3, 1)])],
        "doc_id long, feats array<struct<idx:int, cnt:int>>",
    )
    labels = spark.createDataFrame([(0, 1), (1, 0)], ["doc_id", "label"])
    with pytest.raises(ValueError, match="bias"):
        train_logreg(feats, labels, dim=DIM, iters=2)
