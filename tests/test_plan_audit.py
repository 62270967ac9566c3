"""plan_audit.reuse / materialize — the one way operators cache or
checkpoint a relation — and a scan that keeps hand-rolled variants from
growing back."""

import ast
import pathlib
import re

import pytest
from pyspark import StorageLevel

from ideafast_etl_spark.operators import clustering, dedup
from ideafast_etl_spark.operators.graph import pagerank
from ideafast_etl_spark.operators.pq import pq_train
from ideafast_etl_spark.plan_audit import materialize, no_checkpoints, reuse

PKG = pathlib.Path(__file__).resolve().parent.parent / "ideafast_etl_spark"


def test_reuse_caches_inside_block_and_releases_after(spark):
    df = spark.range(10)
    with reuse(df) as cached:
        assert cached.storageLevel != StorageLevel.NONE
        assert cached.count() == 10
    assert df.storageLevel == StorageLevel.NONE


def test_reuse_releases_when_block_raises(spark):
    df = spark.range(10)
    with pytest.raises(RuntimeError, match="boom"):
        with reuse(df) as cached:
            assert cached.storageLevel != StorageLevel.NONE
            raise RuntimeError("boom")
    assert df.storageLevel == StorageLevel.NONE


def test_materialize_cuts_lineage(spark):
    df = spark.range(10).selectExpr("id * 2 AS x")
    out = materialize(df)
    assert out is not df
    assert sorted(r.x for r in out.collect()) == list(range(0, 20, 2))
    assert "LogicalRDD" in out._jdf.queryExecution().analyzed().toString()


def test_helpers_are_identities_under_audit(spark):
    df = spark.range(10)
    with no_checkpoints():
        with reuse(df) as cached:
            assert cached is df
            assert df.storageLevel == StorageLevel.NONE
        assert materialize(df) is df


_FLAG = re.compile(r"^_(PERSIST|FUSED|EAGER)_")
_LOCAL_HELPERS = {"_ck", "_ckpt"}


def test_no_cache_toggles_or_local_checkpoint_helpers():
    """Caching decisions are measured once and then hard-wired: no module
    flag selects between cached and uncached forms, and no operator keeps
    a private "checkpoint unless auditing" helper next to
    ``plan_audit.materialize``."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = getattr(node, "targets", [getattr(node, "target", None)])
                names = [t.id for t in targets if isinstance(t, ast.Name)]
                found += [f"{path.name}: {n}" for n in names if _FLAG.match(n)]
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if node.name in _LOCAL_HELPERS:
                    found.append(f"{path.name}: def {node.name}")
    assert found == []


_RAW = {"persist", "unpersist", "cache", "localCheckpoint", "checkpoint"}
# (module, function) -> why it keeps a raw call instead of reuse/materialize
_RAW_ALLOWED = {
    ("operators/ranking.py", "_range_offsets"):
        "correctness barrier: range bounds are re-sampled per execution",
    ("operators/tokenizer.py", "bpe_train"):
        "lazy checkpoints ride the next action; materialize is eager",
    ("pipeline/dreem.py", "DreemPipeline.upload"):
        "exactly-once side effect: the upload must not re-run per action",
}


def _raw_reuse_calls(tree: ast.AST) -> list[tuple[str, int]]:
    """(enclosing function qualname, line) of every raw cache/checkpoint
    method call in ``tree``."""
    found = []

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            scope = scope + [node.name]
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _RAW
        ):
            found.append((".".join(scope), node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, [])
    return found


def test_only_allowlisted_functions_cache_or_checkpoint_raw():
    """Every persist, release and lineage cut in the package goes through
    ``plan_audit.reuse``/``materialize`` — otherwise its plan audit runs
    against a ``Scan ExistingRDD`` — except the allowlisted functions, each
    of which must still exist and still make its raw call."""
    raw = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "plan_audit.py":
            continue
        for fn, line in _raw_reuse_calls(ast.parse(path.read_text(), str(path))):
            raw.setdefault((rel, fn), []).append(line)
    stray = {k: v for k, v in raw.items() if k not in _RAW_ALLOWED}
    assert stray == {}
    assert set(raw) == set(_RAW_ALLOWED)


def _vectors(spark, n, dim):
    rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5 + (j == i % dim) * 9) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _docs(spark):
    # a near-dup chain (each doc shifts the previous one by two words), so
    # min-label propagation needs several rounds, plus unrelated docs
    words = [f"w{i}" for i in range(60)]
    rows = [(i, " ".join(words[2 * i : 2 * i + 24]), "en") for i in range(5)]
    rows += [(10 + i, f"other text {i} " * 3 + f"tail {i * 17}", "en") for i in range(4)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _edges(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (5, 3), (4, 6)], "src long, dst long"
    )


# every operator whose caches and checkpoints go through reuse/materialize,
# one tiny call each: spark -> the DataFrames it returns
_CONVERTED = {
    "pagerank": lambda spark: [pagerank(_edges(spark), iters=3)],
    "kmeans_fit": lambda spark: list(
        clustering.kmeans_fit(_vectors(spark, 24, 4), k=3, iters=2)
    ),
    "kmeans_assign_hierarchical": lambda spark: [
        clustering.kmeans_assign_hierarchical(
            _vectors(spark, 70, 4), iters=1, target_cluster_size=1
        )
    ],
    "pq_train": lambda spark: [
        pq_train(_vectors(spark, 24, 4), m=2, k=3, iters=2)
    ],
    "ngram_jaccard_pairs": lambda spark: [dedup.ngram_jaccard_pairs(_docs(spark))],
    "ngram_jaccard_pairs_hot": lambda spark: [
        dedup.ngram_jaccard_pairs(_docs(spark), hot_doc_freq=2)
    ],
    "near_dup_clusters": lambda spark: [
        dedup.near_dup_clusters(_docs(spark), threshold=0.6)
    ],
}


@pytest.mark.filterwarnings("ignore:ngram_jaccard_pairs. hot-shingle cap")
@pytest.mark.parametrize("name", sorted(_CONVERTED))
def test_converted_operators_return_production_rows_under_audit(spark, name):
    """A plan audit builds the operator's real lineage instead of its
    caches and checkpoints; executed, that lineage must return the rows
    production returns (the ``test_classifier`` contract)."""

    def rows():
        return [
            sorted(map(tuple, df.collect())) for df in _CONVERTED[name](spark)
        ]

    production = rows()
    with no_checkpoints():
        audited = rows()
    assert audited == production
    assert all(production)
