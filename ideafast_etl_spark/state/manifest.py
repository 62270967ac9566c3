"""Object-store-safe commit-by-manifest: an append-only log of small,
immutable, self-checksummed JSON files.

The repo's persisted artifacts (state store snapshots, optimized table
layouts) need a commit primitive that works where the 100 TB posture
actually runs — object storage, where directory rename is neither
atomic nor guaranteed to exist. The primitive here uses only
create-file / delete operations (single-key PUT semantics):

- a writer stages bulk data into its FINAL directory first (invisible
  until referenced; a crashed attempt is simply overwritten by the
  retry);
- the COMMIT POINT is the creation of one manifest file
  ``<meta>/<id>.json`` holding an integer commit id, an arbitrary
  payload, and a sha256 self-checksum. Manifests are never modified in
  place;
- readers resolve state by picking the highest-id manifest that parses
  and checksums. A manifest truncated by a crash (or observed mid-PUT)
  fails the checksum and is ignored, so the previous commit stays
  authoritative;
- cleanup of superseded data/manifests happens strictly AFTER the new
  manifest lands and is delete-only, hence crash-repairable.

Same shape as Delta's ``_last_checkpoint`` / Iceberg's metadata files.
Every persisted artifact in the repo commits through this module.

Writer contract (r11 verdict #6): the protocol is SINGLE-WRITER per
artifact — concurrent maintenance writers are not coordinated (there is
no compare-and-swap in plain object storage), and two uncoordinated
writers racing the same log would interleave last-wins: both resolve the
same next commit id, both stage, and the second PUT to the same manifest
key silently replaces the first (its staged data becomes referenced,
the loser's becomes invisible garbage). :func:`put_manifest` therefore
FENCES rather than trusts: each process stamps its PUTs with a random
writer token, refuses to commit an id the log has already reached
(stale-resolve detection — the cheap preflight), and reads its own
manifest back after the PUT to verify its token won (last-wins
detection; object-store read-after-write is strong on current S3/GCS).
A detected race raises :class:`ConcurrentWriterError` — the losing
writer's staged dirs are unreferenced garbage the next maintenance call
repairs, and no committed state was corrupted. This is fencing, not
locking: it turns silent interleaving into a loud error; real
multi-writer coordination belongs to a table format's commit service.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid


class ConcurrentWriterError(RuntimeError):
    """A second maintenance writer raced this commit (see module
    docstring): the log advanced past the id this writer staged for, or
    another writer's PUT overwrote this one's manifest key. The commit
    did NOT happen; staged data dirs are unreferenced and will be
    repaired. The caller should re-resolve and retry, or stop if it has
    been superseded."""


# one token per process: distinguishes THIS writer's PUTs from a racing
# maintenance process on another node (or another local process)
_WRITER_TOKEN = uuid.uuid4().hex


def _canonical(payload: dict) -> str:
    return json.dumps(payload, sort_keys=True)


def manifest_path(meta_dir: str, commit_id: int) -> str:
    # zero-padded so lexical order equals numeric order in object listings
    return os.path.join(meta_dir, f"{commit_id:020d}.json")


def put_manifest(
    meta_dir: str, commit_id: int, payload: dict, writer: str | None = None
) -> str:
    """THE commit point: one immutable, self-checksummed file created
    with PUT semantics (no rename). A crash mid-write leaves a file
    that fails the checksum and is ignored by readers.

    Fenced against a racing second writer (module docstring): raises
    :class:`ConcurrentWriterError` if the log has already reached
    ``commit_id`` under another writer's token (this writer staged
    against a stale resolve), or if a racing PUT to the same key
    overwrites this one (verified by reading the manifest back).
    ``writer`` defaults to the per-process token; pass one explicitly
    only to simulate distinct writers in tests."""
    token = writer or _WRITER_TOKEN
    os.makedirs(meta_dir, exist_ok=True)
    path = manifest_path(meta_dir, commit_id)
    # preflight: a VALID manifest at or past this id means another writer
    # advanced the log since this writer resolved its next id — its
    # staged data is based on superseded state; committing would
    # interleave last-wins. (A truncated/corrupt file at this key is a
    # crash remnant, not a writer — overwriting it is the normal retry.)
    got = latest_manifest(meta_dir)
    if got is not None and got[0] >= commit_id:
        existing = read_manifest(path)
        if existing is None or _manifest_writer(path) != token:
            raise ConcurrentWriterError(
                f"manifest log at {meta_dir} already reached id {got[0]} "
                f"(>= staged id {commit_id}): a second maintenance writer "
                "is active; re-resolve and retry"
            )
    body = _canonical(payload)
    doc = json.dumps(
        {
            "id": commit_id,
            "payload": payload,
            "sha256": hashlib.sha256(body.encode()).hexdigest(),
            "writer": token,
        }
    )
    with open(path, "w") as f:
        f.write(doc)
        f.flush()
        os.fsync(f.fileno())
    # read-back fence: if a racing writer's PUT to the same key landed
    # after ours, last-wins means OUR commit silently vanished — detect
    # it now, while the caller can still abort cleanly.
    if _manifest_writer(path) != token:
        raise ConcurrentWriterError(
            f"manifest {path} was overwritten by a racing writer "
            "immediately after this PUT; this commit did not take effect"
        )
    return path


def _manifest_writer(path: str) -> str | None:
    """The writer token a manifest file carries (None for unreadable /
    pre-fencing files)."""
    try:
        with open(path) as f:
            return json.load(f).get("writer")
    except (OSError, ValueError):
        return None


def read_manifest(path: str) -> tuple[int, dict] | None:
    """(commit id, payload) if the file parses and self-checksums;
    None for truncated / corrupt / foreign files."""
    try:
        with open(path) as f:
            doc = json.load(f)
        payload = doc["payload"]
        if (
            hashlib.sha256(_canonical(payload).encode()).hexdigest()
            != doc["sha256"]
        ):
            return None
        return int(doc["id"]), payload
    except (OSError, ValueError, KeyError, TypeError):
        return None


def latest_manifest(
    meta_dir: str, valid=None
) -> tuple[int, dict] | None:
    """The highest-id manifest that parses, checksums, and (optionally)
    satisfies ``valid(payload)`` — e.g. "its data directory exists"."""
    if not os.path.isdir(meta_dir):
        return None
    best = None
    for e in os.scandir(meta_dir):
        got = read_manifest(e.path) if e.is_file() else None
        if got is None or (valid is not None and not valid(got[1])):
            continue
        if best is None or got[0] > best[0]:
            best = got
    return best


def prune_manifests(meta_dir: str, keep_id: int | None) -> None:
    """Delete every manifest file except the committed one — truncated
    PUT attempts and superseded entries. Delete-only; safe under the
    single-writer contract."""
    if not os.path.isdir(meta_dir):
        return
    keep = (
        os.path.basename(manifest_path(meta_dir, keep_id))
        if keep_id is not None
        else None
    )
    for e in os.scandir(meta_dir):
        if e.name != keep:
            try:
                os.unlink(e.path)
            except OSError:
                pass


# -- versioned-directory commit ----------------------------------------------
#
# The commit primitive for artifacts whose consumer addresses a single
# logical path (an optimized table): data for commit N lives in the
# sibling dir `<base>.v<N>`, the manifest log lives in
# `<base>._meta/`, and readers resolve through `resolve_dir(base)` — the flat
# `base` dir itself before the first commit (optimize_table's input table).
# Rename-free end to end: stage into the final versioned dir, PUT one
# manifest, delete superseded dirs afterwards (crash-repaired by the next
# committer). A symlinked `base` (the pre-manifest layout) is refused.


def _dir_meta(base: str) -> str:
    return base.rstrip("/") + "._meta"


def _ver_dir(base: str, ver: int) -> str:
    return f"{base.rstrip('/')}.v{ver}"


def _latest_dir_commit(base: str) -> tuple[int, dict] | None:
    """The newest manifest whose `<base>.v<N>` dir exists. Raises
    ``ValueError`` on a symlinked ``base``: the pre-manifest layout
    pointed it at its live `<base>.v<N>`, which the next stage would
    overwrite."""
    if os.path.islink(base):
        raise ValueError(
            f"{base!r} is a symlink: the pre-manifest versioned-dir layout "
            "is no longer read or migrated"
        )
    return latest_manifest(
        _dir_meta(base),
        valid=lambda p: isinstance(p.get("ver"), int)
        and os.path.isdir(_ver_dir(base, p["ver"])),
    )


def resolve_dir(base: str) -> str:
    """The live data dir: the newest manifest-committed `<base>.v<N>`
    whose dir exists, else the flat ``base`` itself (never committed).
    Read-only — never repairs."""
    base = base.rstrip("/")
    got = _latest_dir_commit(base)
    return _ver_dir(base, got[1]["ver"]) if got else base


def next_dir_version(base: str) -> tuple[int, str]:
    """(next commit id, the final dir to stage it into). A crashed
    attempt at the same id is simply overwritten by the retry (the dir is
    unreferenced until its manifest lands)."""
    base = base.rstrip("/")
    got = _latest_dir_commit(base)
    nid = (got[0] if got else 0) + 1
    return nid, _ver_dir(base, nid)


def commit_dir(base: str, ver: int) -> str:
    """THE commit point for a staged `<base>.v<ver>` dir: one manifest
    PUT, then delete-only cleanup of superseded version dirs and stale
    manifests. Single-writer contract. Returns the committed dir.

    Reader grace window (r11 advice): the dir that was live IMMEDIATELY
    before this commit is retained through one commit — a reader that
    resolved it via :func:`resolve_dir` just before the publish can finish
    its scan; it is deleted by the NEXT commit (same discipline as
    ``StateStore._gc``). Everything older goes now. A flat ``base`` dir
    (the input table before its first commit) gets the same grace: the
    first commit keeps it, the second retires it."""
    import re
    import shutil

    base = base.rstrip("/")
    # what readers resolved as live BEFORE this commit — kept one round
    prev_got = _latest_dir_commit(base)
    keep = {os.path.abspath(_ver_dir(base, ver))}
    if prev_got is not None:
        keep.add(os.path.abspath(_ver_dir(base, prev_got[1]["ver"])))
    put_manifest(_dir_meta(base), ver, {"ver": ver})
    name = os.path.basename(base)
    parent = os.path.dirname(os.path.abspath(base)) or "."
    stale = re.compile(rf"^{re.escape(name)}\.v\d+$")
    for entry in os.listdir(parent):
        full = os.path.join(parent, entry)
        if stale.match(entry) and full not in keep:
            shutil.rmtree(full, ignore_errors=True)
    # retire a flat `base` dir once it has had its grace window (i.e. a
    # previous manifest commit already exists). On the FIRST commit it
    # stays: a reader may have just resolved it.
    if prev_got is not None and os.path.isdir(base):
        shutil.rmtree(base, ignore_errors=True)
    prune_manifests(_dir_meta(base), ver)
    return _ver_dir(base, ver)
