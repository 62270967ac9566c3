"""The r12 loop job-shaves and posture caches are value-free: the lazy BPE
merge checkpoint, the fused CC convergence flag, and the cached grid-star
/ minhash / simhash relations must keep producing the exact results the
eager/joined/uncached forms produced. Each expected value below was
recorded from those forms on the same fixture (REPRO.md same-values
discipline)."""

import random

from ideafast_etl_spark.operators import dedup, similarity, tokenizer


def test_bpe_lazy_merge_ckpt_learns_expected_merges(spark):
    """The lazy vocab checkpoint (materialized by the next merge's
    top-pair collect) learns the same merge list and the same final
    symbolized vocabulary as the eager 2-jobs-per-merge form."""
    rows = [
        (i, f"low lower lowest newest widest new wid{i % 3} er est")
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    merges, vocab = tokenizer.bpe_train(docs, n_merges=8)
    assert merges == [
        ("e", "s", 48), ("es", "t", 48), ("est", "</w>", 48),
        ("l", "o", 36), ("lo", "w", 36), ("e", "r", 24), ("e", "w", 24),
        ("er", "</w>", 24),
    ]
    assert sorted(map(tuple, vocab.select("word", "freq", "sym").collect())) == [
        ("er", 12, "er</w>"),
        ("est", 12, "est</w>"),
        ("low", 12, "low </w>"),
        ("lower", 12, "low er</w>"),
        ("lowest", 12, "low est</w>"),
        ("new", 12, "n ew </w>"),
        ("newest", 12, "n ew est</w>"),
        ("wid0", 4, "w i d 0 </w>"),
        ("wid1", 4, "w i d 1 </w>"),
        ("wid2", 4, "w i d 2 </w>"),
        ("widest", 12, "w i d est</w>"),
    ]


def test_cc_fused_change_check_resolves_component_min(spark):
    """Min-label propagation is monotone non-increasing, so the fused
    in-projection change flag (neighbour_min < old) decides convergence
    exactly like the old labels⋈new_labels inequality join — on a fixture
    whose pair graph takes multiple propagation rounds (a template cluster
    plus satellite dups), both candidate modes label the template cluster
    with its min id 0 and leave the unrelated docs out."""
    template = " ".join(f"w{i}" for i in range(40))
    rows = [(i, f"{template} u{i}a u{i}b") for i in range(24)]
    rows += [
        (200 + i, "totally unrelated prose block "
                  f"num{i} top{i} it{i} th{i} ex{i} mo{i} wo{i} he{i}")
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for mode in ("all", "star"):
        got = sorted(
            map(
                tuple,
                dedup.near_dup_clusters(
                    docs, threshold=0.5, candidates=mode
                ).collect(),
            )
        )
        assert got == [(i, 0) for i in range(24)], mode


def test_grid_star_reps_persist_keeps_pair_set(spark):
    """Caching the grid-star representative relation across its three
    consumers keeps the verified pair set — on a corpus with a planted
    near-identical cluster (exercising the intra leg) plus spread vectors
    (exercising the cross leg)."""
    rnd = random.Random(7)
    rows = []
    base = [rnd.uniform(-1, 1) for _ in range(8)]
    for i in range(12):  # jitter cluster: collapses into fine groups
        rows.append((i, [v + rnd.uniform(-1e-4, 1e-4) for v in base]))
    for i in range(40):  # spread vectors for the representative stage
        rows.append((100 + i, [rnd.uniform(-1, 1) for _ in range(8)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = sorted(
        map(
            tuple,
            similarity.grid_near_dup_pairs(
                df, threshold=0.95, candidates="star"
            ).collect(),
        )
    )
    # the planted cluster's intra pairs, star-linked to its min id
    assert got == [(0, i, 1.0) for i in range(1, 12)]


def test_minhash_perdoc_and_simhash_fp_persist_keep_pair_sets(spark):
    """Persisting the doc-keyed signature aggregate (minhash) / the
    fingerprint relation (simhash) across their consumers keeps the
    verified pair sets. Docs 0-15 share a template up to ``i % 4``:
    same-residue pairs are identical, the rest share 6 of 8 tokens."""
    rows = [(i, f"the quick brown fox jumps over lazy dog {i % 4}")
            for i in range(16)]
    rows += [(100 + i, f"completely different text body num{i} tok{i} "
                       f"it{i} th{i} ex{i} mo{i}") for i in range(6)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    mh = sorted(map(tuple, dedup.minhash_near_dup_pairs(
        docs, threshold=0.3).collect()))
    mh_star = sorted(map(tuple, dedup.minhash_near_dup_pairs(
        docs, threshold=0.3, candidates="star").collect()))
    sh = sorted(map(tuple, dedup.simhash_near_dup_pairs(
        docs, max_hamming=3).collect()))
    assert mh == [
        (a, b, 1.0 if a % 4 == b % 4 else 0.75)
        for a in range(16)
        for b in range(a + 1, 16)
    ]
    assert mh_star == [
        (0, 1, 0.75), (0, 2, 0.75), (0, 3, 0.75), (0, 4, 1.0), (0, 5, 0.75),
        (0, 6, 0.75), (0, 7, 0.75), (0, 8, 1.0), (0, 9, 0.75), (0, 10, 0.75),
        (0, 11, 0.75), (0, 12, 1.0), (0, 13, 0.75), (0, 14, 0.75),
        (0, 15, 0.75), (1, 2, 0.75), (1, 3, 0.75), (1, 5, 1.0), (1, 6, 0.75),
        (1, 7, 0.75), (1, 9, 1.0), (1, 10, 0.75), (1, 11, 0.75), (1, 13, 1.0),
        (1, 14, 0.75), (1, 15, 0.75), (2, 6, 1.0), (2, 10, 1.0), (2, 14, 1.0),
        (3, 7, 1.0), (3, 11, 1.0), (3, 15, 1.0),
    ]
    assert sh == [
        (a, b, 0)
        for a in range(16)
        for b in range(a + 1, 16)
        if a % 4 == b % 4
    ]


def test_cc_output_schema_drops_change_flag(spark):
    """The fused path's internal __chg column must never leak into the
    operator's output schema."""
    rows = [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "z y x w v u t s")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.near_dup_clusters(docs, threshold=0.5)
    assert out.columns == ["doc_id", "cluster_id"]
