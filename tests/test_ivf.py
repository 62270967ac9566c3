"""IVF approximate top-k (operators/similarity.py): full-probe equivalence
to brute force, recall on clustered data, seed determinism, and the
persisted-index build/query separation."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ideafast_etl_spark.operators import similarity


@pytest.fixture(scope="module")
def corpus(spark):
    """4 well-separated gaussian clusters in 6-d, 30 points each."""
    rng = np.random.default_rng(7)
    centers = rng.normal(0, 1, (4, 6)) * 10
    rows = []
    vid = 0
    for c in centers:
        for _ in range(30):
            rows.append((vid, [float(x) for x in c + rng.normal(0, 0.5, 6)]))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


@pytest.fixture(scope="module")
def queries(corpus):
    return corpus.filter(F.col("vec_id") % 30 == 3)


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


def test_full_probe_equals_brute_force(spark, corpus, queries):
    """Probing every cell makes IVF exhaustive — must equal brute force."""
    exact = similarity.brute_force_topk(corpus, queries, k=5)
    ivf = similarity.ivf_topk(
        corpus, queries, k=5, n_cells=4, n_probe=4
    )
    assert _pairs(ivf) == _pairs(exact)


def test_partial_probe_recall_on_clustered_data(spark, corpus, queries):
    """With clear cluster structure, probing 1 of 4 cells still finds the
    true neighbors (they live in the query's own cell)."""
    exact = _pairs(similarity.brute_force_topk(corpus, queries, k=5))
    ivf = _pairs(
        similarity.ivf_topk(corpus, queries, k=5, n_cells=4, n_probe=1)
    )
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.9


def test_seed_determinism(spark, corpus, queries):
    a = similarity.ivf_topk(corpus, queries, k=3, n_cells=4, n_probe=2)
    b = similarity.ivf_topk(corpus, queries, k=3, n_cells=4, n_probe=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
