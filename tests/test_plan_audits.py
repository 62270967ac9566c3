"""Plan audits as a pytest gate (r8 verdict #5): the marker assertions
were only checked by hand (``python tools/explain_plans.py``), so a
plan regression between rounds — a broadcast silently degrading to a
nested loop, a pushdown lost to a refactor — was invisible to the test
suite. This module runs the same audit set at the small SF on every
test run: positive markers (pushdown reached the scan, broadcast/semi
join shapes, partial agg phases) must appear in the formatted plan and
'!'-prefixed scale-killers (BroadcastNestedLoopJoin, CartesianProduct,
per-key single-partition windows) must be absent.

The planted-regression test proves the gate actually bites: with
broadcast joins disabled the BroadcastHashJoin markers go missing and
the checker flags them.
"""

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "explain_plans",
    os.path.join(os.path.dirname(__file__), "..", "tools", "explain_plans.py"),
)
explain_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(explain_plans)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def audit_queries():
    import __spark_entry__ as entrymod

    return entrymod.queries()


@pytest.mark.parametrize("name", sorted(explain_plans.EXPECTATIONS))
def test_plan_markers_hold(spark, audit_queries, name):
    markers = explain_plans.EXPECTATIONS[name]
    _plan, missing = explain_plans.audit_query(
        spark, name, markers, sf_dir=SF_DIR, qs=audit_queries
    )
    assert not missing, (
        f"{name}: plan regression — markers {missing} "
        f"({'absent' if not missing[0].startswith('!') else 'present'})"
    )


def test_gate_catches_a_planted_regression(spark):
    """Prove the gate is alive, not vacuous: audit a deliberately
    degenerate plan (a join with no equi-condition — the classic
    refactor accident the '!' markers exist for) and the checker must
    flag BOTH failure modes — the scale-killer nested loop PRESENT and
    the expected hash join ABSENT."""
    from ideafast_etl_spark import tables

    def planted(spark, sf_dir):
        n = tables.load(spark, "nation", sf_dir)
        r = tables.load(spark, "region", sf_dir)
        return n.crossJoin(r.withColumnRenamed("r_name", "rr_name"))

    explain_plans.VARIANTS["__planted__"] = planted
    try:
        plan, missing = explain_plans.audit_query(
            spark,
            "__planted__",
            ["BroadcastHashJoin", "!BroadcastNestedLoopJoin",
             "!CartesianProduct"],
            sf_dir=SF_DIR,
        )
    finally:
        del explain_plans.VARIANTS["__planted__"]
    assert "BroadcastHashJoin" in missing  # positive marker detection
    # the loop join is present in one of its two physical forms and the
    # corresponding negative marker fires
    assert any(m.startswith("!") for m in missing), plan
