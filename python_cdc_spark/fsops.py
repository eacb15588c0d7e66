"""Filesystem primitives for the CDC-maintained structures.

The versioned structures (rollup cube, dedup index, BM25 text index,
bucketed state store) commit through ONE protocol, whose primitives
live here; each structure keeps only its own on-disk naming (which
slot a version number maps to, which pointer file is the commit point)
and its live-set derivation for vacuum. The ANN index meta uses only
step 3, the publish and its format check (its folds rewrite cell
partitions in place):

1. **stage** — write the new version into a writer-private directory
   named by :func:`staging` (``_staging_<uuid>``). Nothing reads it.
2. **claim** — :func:`claim` renames the staged directory into the
   first free version slot at-or-past a hint, never clobbering an
   occupied one (:func:`rename_no_clobber`), and returns the claimed
   version: the pointer must record that, not the hint.
3. **publish** — :func:`cas_publish` swaps the pointer only if it has
   not moved since the writer read it (:func:`read_json_with_token`).
   Every pointer carries a ``"format"`` stamp; readers refuse any other
   with :func:`check_format` instead of keeping fallback read paths.
4. **vacuum** — whatever the committed pointer does not reference is
   garbage. A staging directory is garbage only once
   :func:`is_stale_staging` says its writer is presumed dead.

This module is the ONLY place they touch the filesystem for that shape
— list / atomic replace / recursive delete / pointer publish / size
accounting — so a transactional backend (object store + a real table
format, or a metadata service) is a port of ONE module, not a grep
across five.

Semantics the callers rely on:

- ``replace`` is ATOMIC on the backing store (POSIX rename here; an
  object-store backend must substitute a conditional-put or
  metadata-service swap — this is the single primitive every
  structure's commit point uses).
- ``durable_replace`` = fsync + ``replace``; ``publish_json`` =
  write sidecar + ``durable_replace``: a crash at any point leaves
  either the old pointer or the new one, never a torn file.
- ``remove_tree`` / ``remove_file`` are idempotent (missing target is
  a no-op): vacuum and post-publish cleanup retry safely.
- ``list_dir`` of a missing directory is ``[]``: callers enumerate
  optional subtrees without existence preflights.

LOCAL paths. Concurrency is OPTIMISTIC at the pointer swap: a writer
records the committed pointer's identity token when it reads, stages
freely (staged dirs are invisible until published), and commits only
if the token is unchanged — the local-FS analog of an object-store
conditional-put / ETag if-match. Two racing writers: exactly one wins;
the loser raises :class:`ConcurrentWriterError` with its claimed slots
unreferenced (the next vacuum reclaims them) and retries from a fresh
read or refuses.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid


class ConcurrentWriterError(RuntimeError):
    """Another writer moved the pointer (or holds the publish lock)
    between this writer's read and its publish. The structure on disk
    is whatever the WINNER committed — nothing is torn; the caller
    re-reads and retries, or surfaces the conflict."""


def list_dir(path: str) -> list[str]:
    """Directory entries (names, not paths); [] when missing."""
    try:
        return os.listdir(path)
    except (FileNotFoundError, NotADirectoryError):
        return []


def is_dir(path: str) -> bool:
    return os.path.isdir(path)


def is_file(path: str) -> bool:
    return os.path.isfile(path)


def makedirs(path: str) -> None:
    os.makedirs(path, exist_ok=True)


def replace(src: str, dst: str) -> None:
    """Atomic rename — the commit primitive for every pointer swap and
    staged-directory publish."""
    os.replace(src, dst)


def rename_no_clobber(src: str, dst: str) -> bool:
    """Atomic rename that REFUSES to replace an occupied destination:
    returns False when ``dst`` exists non-empty (POSIX rename fails
    ENOTEMPTY/EEXIST for that case), True when the rename landed. The
    claim primitive for versioned-slot staging: two racing writers can
    never steal each other's staged or committed directories — the one
    that finds a slot occupied claims the next version instead, and any
    slot the losing pointer never references is vacuum fodder.

    (An EMPTY existing directory is silently replaced — structures here
    only ever produce populated dirs, and rename into a populated dir
    is what must never succeed.)"""
    import errno

    try:
        os.rename(src, dst)
        return True
    except OSError as e:
        if e.errno in (errno.ENOTEMPTY, errno.EEXIST, errno.EISDIR, errno.ENOTDIR):
            return False
        raise


def claim(staged: str, slot_path, first: int) -> int:
    """Rename the ``staged`` directory into the first free slot
    ``slot_path(v)`` for ``v = first, first + 1, ...`` and return the
    claimed ``v``. Occupied slots (a crashed attempt's orphan, a racing
    writer's claim or a committed version) are skipped, never
    replaced."""
    v = first
    while not rename_no_clobber(staged, slot_path(v)):
        v += 1
    return v


_STAGING = "_staging_"

#: how old a writer-private staging dir must be before cleanup/vacuum
#: may presume its writer dead and reclaim it. Staging normally lives
#: seconds-to-minutes; a CONCURRENT writer's active staging must never
#: be swept out from under its in-flight Spark write.
STAGING_TTL_SECS = 3600.0


def staging(root: str) -> str:
    """A fresh writer-private staging path under ``root`` (not created:
    the first write into it does that)."""
    return os.path.join(root, f"{_STAGING}{uuid.uuid4().hex[:12]}")


def is_stale_staging(root: str, entry: str) -> bool:
    """True when ``root/entry`` is a staging directory old enough to
    reclaim (its writer crashed or lost long ago). Any name containing
    ``_staging_`` counts, which also covers the per-structure prefixes
    earlier writers used (``_v_``, ``_base_``, ``_components_``,
    ``_meta_``, ``_union_staging_``). False for young staging, which
    may belong to a live concurrent writer, and for missing paths."""
    if _STAGING not in entry:
        return False
    try:
        age = time.time() - os.path.getmtime(os.path.join(root, entry))
    except OSError:
        return False
    return age > STAGING_TTL_SECS


#: how many folded batch ids a streaming sink's replay ledger keeps
FOLD_LEDGER_TAIL = 1000


def record_fold(ledger: list, batch_id: int) -> list:
    """``ledger`` (folded micro-batch ids) with ``batch_id`` added, as
    the sorted tail a sink commits beside its state. Spark replays only
    recent uncommitted batches, so the replay guard needs a bounded
    tail, not every id since the stream began."""
    return sorted({*ledger, batch_id})[-FOLD_LEDGER_TAIL:]


def check_format(obj, want: int, path: str):
    """``obj`` (a pointer read from ``path``) when it carries
    ``"format": want``; otherwise ``ValueError`` naming the path. A
    layout no current writer produces is refused instead of being read
    through a fallback path."""
    have = obj.get("format") if isinstance(obj, dict) else None
    if have != want:
        raise ValueError(
            f"{path}: on-disk format {have or 'unversioned'} is not the "
            f"format {want} this engine reads; delete it (and any "
            "streaming checkpoint resuming from it) and rebuild"
        )
    return obj


def remove_tree(path: str) -> None:
    """Recursive delete; missing target is a no-op."""
    shutil.rmtree(path, ignore_errors=True)


def remove_file(path: str) -> None:
    """Unlink; missing target is a no-op."""
    try:
        os.remove(path)
    except OSError:
        pass


def durable_replace(tmp: str, dst: str) -> None:
    """Make a fully written temp file durable, then publish it: fsync +
    atomic rename. A crash at any point leaves either the old ``dst``
    or the complete new one, never an empty or torn file."""
    fd = os.open(tmp, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
    replace(tmp, dst)


def publish_json(path: str, obj) -> None:
    """Crash-atomic JSON publish: temp write + fsync + rename."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    durable_replace(tmp, path)


def read_json(path: str, default=None):
    """Parsed JSON, or ``default`` when the file does not exist. Every
    writer publishes with fsync + rename (a torn write can only be a
    ``.tmp`` never renamed), so a committed file that cannot be read or
    parsed is corruption, not a missing file: that raises a
    ``ValueError`` naming the path instead of reading as ``default``."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return default
    except (OSError, ValueError) as err:
        raise ValueError(f"unreadable committed JSON file {path}: {err}") from err


def file_token(path: str):
    """Opaque identity token of a committed pointer file — the local-FS
    ETag: ``(inode, mtime_ns, size)``, or None when the file does not
    exist. Every ``publish_json``/``replace`` installs a NEW inode (the
    temp file's), so any successful publish changes the token even if
    it writes byte-identical content."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def read_json_with_token(path: str, default=None):
    """``(parsed JSON or default, identity token)`` with a
    stat/read/re-stat loop, so the returned token is guaranteed to
    identify exactly the bytes parsed — the read half of the
    optimistic-concurrency protocol (pass the token to
    ``cas_publish`` as ``expected_token``)."""
    while True:
        t0 = file_token(path)
        obj = read_json(path, default)
        if file_token(path) == t0:
            return obj, t0


def cas_publish(
    path: str, obj, expected_token, stale_lock_secs: float = 60.0
) -> None:
    """Conditional pointer publish (compare-and-swap): commit ``obj``
    at ``path`` only if the committed file's identity token still
    equals ``expected_token`` (None = "must not exist yet"). Raises
    :class:`ConcurrentWriterError` when the precondition fails or
    another writer holds the publish lock — the losing writer's staged
    version directories stay unreferenced and the next vacuum reclaims
    them, so losing is always safe.

    Mutual exclusion between check and rename comes from an
    ``O_CREAT|O_EXCL`` lock file (atomic on POSIX); the lock is held
    only across stat + json dump + rename (milliseconds). A lock older
    than ``stale_lock_secs`` is presumed crashed mid-publish and
    broken — the crashed writer never renamed, so the committed
    pointer is intact and the token check still decides.

    An object-store backend replaces this whole function with the
    store's native conditional-put (S3 If-Match / GCS
    ifGenerationMatch) — same contract, no lock file."""
    lock = path + ".lock"
    fd = None
    for attempt in (0, 1):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lock)
            except OSError:
                age = 0.0  # lock vanished: raced its release — contended
            if age <= stale_lock_secs or attempt == 1:
                raise ConcurrentWriterError(
                    f"another writer holds the publish lock for {path}"
                )
            remove_file(lock)  # stale: its owner crashed before renaming
    try:
        if file_token(path) != expected_token:
            raise ConcurrentWriterError(
                f"pointer {path} moved since this writer read it "
                f"(lost the publish race)"
            )
        publish_json(path, obj)
    finally:
        if fd is not None:
            os.close(fd)
        remove_file(lock)


def write_marker(path: str, content: str = "") -> None:
    """Commit marker (e.g. ``_COMMITTED``): atomic create-with-content
    via temp + rename, so a reader never sees a half-written marker."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(content)
    durable_replace(tmp, path)


def tree_bytes(path: str) -> int:
    """Total bytes under a directory, or the file's own size — vacuum
    receipts' reclaimed-space accounting."""
    if os.path.isfile(path):
        try:
            return os.path.getsize(path)
        except OSError:
            return 0
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
