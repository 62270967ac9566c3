"""plan_audit.reuse / materialize — the one way operators cache or
checkpoint a relation — and a scan that keeps hand-rolled variants from
growing back."""

import ast
import pathlib
import re

import pytest
from pyspark import StorageLevel

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
