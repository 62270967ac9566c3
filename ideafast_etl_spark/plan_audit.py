"""The one way operators reuse a relation, and its plan-audit switch.

Iterative / multi-consumer operators cache a relation that several
consumers read (``reuse``) and cut lineage on small results
(``materialize``). Both are production calls: every operator that keeps a
relation across actions goes through them instead of hand-rolling a
gated ``persist``/``unpersist`` pair or ``localCheckpoint``.

A checkpointed DataFrame explains as ``Scan ExistingRDD`` — a plan audit
against it is VACUOUS: the positive markers are missing and the negative
assertions pass trivially against an empty plan. ``tools/explain_plans.py``
therefore builds its plans inside ``no_checkpoints()``, where both helpers
hand back the lazy DataFrame unchanged so ``.explain`` shows the real
joins/aggregates/windows. Outside an audit the default is always on.

Decisions that are not about caching (auto-posture probes, an early exit
on an empty frontier) read ``checkpoints_enabled()`` directly.

Three functions keep a raw ``localCheckpoint``, because an audit must not
lift it (``tests/test_plan_audit.py`` allowlists exactly these):

- ``operators/ranking.py::_range_offsets`` — a correctness barrier: range
  bounds are re-sampled on every execution, so the collected partition
  offsets only fit the one checkpointed execution, and an audit must
  return production's results;
- ``operators/tokenizer.py::bpe_train`` — its checkpoints are LAZY, riding
  the next action instead of running a job each; ``materialize`` is eager;
- ``pipeline/dreem.py::DreemPipeline.upload`` — the upload is a side
  effect that must run exactly once, not once per later action.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

_DISABLE_CHECKPOINTS = False


def checkpoints_enabled() -> bool:
    """True unless a plan audit has requested un-truncated lineage."""
    return not _DISABLE_CHECKPOINTS


@contextmanager
def no_checkpoints() -> Iterator[None]:
    """Within this context ``reuse``/``materialize`` are identities so
    ``.explain`` sees the real plan. For plan audits only — executing
    heavy iterative operators in this mode recomputes lineage per
    iteration."""
    global _DISABLE_CHECKPOINTS
    prev = _DISABLE_CHECKPOINTS
    _DISABLE_CHECKPOINTS = True
    try:
        yield
    finally:
        _DISABLE_CHECKPOINTS = prev


@contextmanager
def reuse(df: DataFrame) -> Iterator[DataFrame]:
    """Yield ``df.persist()`` for the block's consumers and always
    unpersist on exit, also when the block raises. Anything returned from
    the block that still reads the cache must be ``materialize``d inside
    it. Under ``no_checkpoints()`` yields ``df`` unchanged."""
    if not checkpoints_enabled():
        yield df
        return
    cached = df.persist()
    try:
        yield cached
    finally:
        cached.unpersist()


def materialize(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``: compute once, cut lineage.
    Under ``no_checkpoints()`` returns ``df`` unchanged."""
    return df.localCheckpoint(eager=True) if checkpoints_enabled() else df
