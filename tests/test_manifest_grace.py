"""r11-advice hardening of the shared versioned-dir commit primitive
(state/manifest.py): the one-commit reader grace window and crash-remnant
cleanup.

Scenarios (ADVICE r11):
- commit_dir keeps the immediately-previous live dir through one commit
  so a reader that resolved it just before the publish can finish its
  scan (StateStore._gc's discipline);
- a flat input dir gets the same grace before it is retired;
- a crashed attempt's unreferenced staged dir is never live and gets no
  grace.
"""

import os

from ideafast_etl_spark.state.manifest import (
    commit_dir,
    next_dir_version,
    resolve_dir,
)


def _mkdata(d: str, tag: str) -> None:
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "data.txt"), "w") as f:
        f.write(tag)


def _tag(d: str) -> str:
    with open(os.path.join(d, "data.txt")) as f:
        return f.read()


def test_grace_window_keeps_exactly_one_previous_commit(tmp_path):
    base = str(tmp_path / "g")
    for v in (1, 2, 3):
        ver, d = next_dir_version(base)
        assert ver == v
        _mkdata(d, f"v{v}")
        commit_dir(base, ver)
        assert resolve_dir(base) == base + f".v{v}"
        if v > 1:
            assert os.path.isdir(base + f".v{v - 1}")  # grace holder
        if v > 2:
            assert not os.path.isdir(base + f".v{v - 2}")  # expired


def test_flat_legacy_dir_grace_then_retire(tmp_path):
    base = str(tmp_path / "flat")
    _mkdata(base, "flat-live")
    assert resolve_dir(base) == base
    ver, d = next_dir_version(base)
    _mkdata(d, "v1")
    commit_dir(base, ver)
    # first manifest commit: flat dir unreachable but kept (reader grace)
    assert resolve_dir(base) == base + ".v1"
    assert os.path.isdir(base) and _tag(base) == "flat-live"
    ver2, d2 = next_dir_version(base)
    _mkdata(d2, "v2")
    commit_dir(base, ver2)
    assert not os.path.isdir(base)  # retired on the second commit
    assert os.path.isdir(base + ".v1")  # prev commit now holds the grace


def test_unreferenced_staging_remnant_gets_no_grace(tmp_path):
    """A crashed attempt's staged dir was never live: the retry stages
    over it at the same id, and cleanup removes any other unreferenced
    version dir at the next commit."""
    base = str(tmp_path / "u")
    _mkdata(base + ".v1", "crashed-staging")  # no manifest ever PUT
    _mkdata(base + ".v5", "stray-staging")
    _mkdata(base + ".victim-not-matching", "keep")  # foreign sibling
    assert resolve_dir(base) == base  # invisible
    ver, d = next_dir_version(base)
    assert (ver, d) == (1, base + ".v1")  # the retry reuses the crashed id
    _mkdata(d, "v1")
    commit_dir(base, ver)
    assert _tag(base + ".v1") == "v1"
    assert not os.path.isdir(base + ".v5")
    assert os.path.isdir(base + ".victim-not-matching")  # untouched
    assert resolve_dir(base) == base + ".v1"
