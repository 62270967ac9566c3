"""Each persisted artifact reads and writes only the layout it writes today.

A directory in a layout no current code writes is refused with a
``ValueError`` that names the layout, and it is left byte-identical: never
read as empty, never migrated, never deleted. One test per removed layout:

- a state store with a ``_CURRENT`` pointer file (before manifests);
- a state store whose manifest records no schema;
- a versioned-dir ``base`` that is a symlink (before manifests).
"""

import os

import pytest

from ideafast_etl_spark.operators.layout import optimize_table
from ideafast_etl_spark.state import StateStore
from ideafast_etl_spark.state.manifest import (
    commit_dir,
    next_dir_version,
    put_manifest,
    resolve_dir,
)


def _tree(root) -> dict[str, object]:
    """Every entry under ``root``: file bytes, symlink target, or 'dir'."""
    out: dict[str, object] = {}
    for dirpath, dirs, files in os.walk(root):
        for name in dirs + files:
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, root)
            if os.path.islink(full):
                out[rel] = ("link", os.readlink(full))
            elif os.path.isdir(full):
                out[rel] = "dir"
            else:
                with open(full, "rb") as f:
                    out[rel] = f.read()
    return out


def _file(path: str, data: bytes = b"PAR1 not really parquet") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def test_pointer_file_store_is_refused(spark, tmp_path):
    root = str(tmp_path / "state")
    _file(f"{root}/v_100/device_type=DRM/part-0.parquet")
    _file(f"{root}/v_200/device_type=DRM/part-0.parquet")
    _file(f"{root}/_CURRENT", b"100")
    before = _tree(tmp_path)
    # opening raises: a recover() here would delete both v_ dirs, since no
    # manifest lists them
    with pytest.raises(ValueError, match="_CURRENT pointer file"):
        StateStore(spark, root)
    assert _tree(tmp_path) == before


def test_schema_less_manifest_is_refused(spark, tmp_path):
    root = str(tmp_path / "state")
    store = StateStore(spark, root)
    store.init(spark.createDataFrame([("h1", "DRM")], "hash string, device_type string"))
    v = store.current_version()
    # the manifest as stores committed it before schemas were recorded
    put_manifest(store._meta_dir(), int(v), {"version": v})
    # an uncommitted remnant recover() would otherwise clear
    _file(f"{root}/v_{int(v) + 1}/part-0.parquet")
    before = _tree(tmp_path)
    reopened = StateStore(spark, root)
    batch = spark.createDataFrame([("h2", "DRM")], "hash string, device_type string")
    for op in (
        reopened.read,
        reopened.exists,
        reopened.recover,
        lambda: reopened.append_new(batch),
        lambda: reopened.compact(min_files=1),
    ):
        with pytest.raises(ValueError, match="records no schema"):
            op()
    assert _tree(tmp_path) == before


def test_symlinked_versioned_dir_base_is_refused(spark, tmp_path):
    base = str(tmp_path / "table")
    for i in range(4):
        _file(f"{base}.v1/part-{i}.parquet")
    os.symlink(base + ".v1", base)
    before = _tree(tmp_path)
    # optimize_table would otherwise stage into `.v1` — the live data the
    # symlink points at — after deleting it
    for op in (
        lambda: resolve_dir(base),
        lambda: next_dir_version(base),
        lambda: commit_dir(base, 2),
        lambda: optimize_table(spark, base, min_files_to_compact=1),
    ):
        with pytest.raises(ValueError, match="symlink"):
            op()
    assert _tree(tmp_path) == before

