"""Unified vacuum/retention across the four CDC-maintained structures.

The rollup cube, ANN inverted lists, dedup index, and BM25 text index
all share one durability shape: immutable version directories published
by an atomic pointer (``_meta.json`` / ``_manifest.json`` / ``_ptr`` /
``_base_ptr``+``_components_ptr``), with superseded directories left
behind as garbage for cleanup. Each structure grew its own per-fold
sweep; this module is the COMMON retention layer over that shared shape
(r10 verdict #4): one ``vacuum(path)`` that detects the structure kind
from its marker file, derives the LIVE directory set from the current
pointer(s), and deletes everything else — returning a receipt
(kind, removed dirs, bytes reclaimed, live set size) so storage stays
measurably bounded under any fold history.

Crash-safety is inherited, not bolted on: every kind's live set is
derived purely from committed pointers, and vacuum only ever DELETES
unreferenced directories — so any prefix of a vacuum (a crash midway)
leaves every committed pointer resolvable and the structure fully
readable. A re-run finishes the sweep. Pinned by
``tests/test_maintenance.py``.

Retention: ``retain_last`` keeps that many superseded versions below
the current one where the structure supports time travel (state-store
manifests, rollup/dedup components grace versions); structures without
a time-travel contract (BM25 buckets, dedup deltas) ignore it — their
pointer is the only valid view.

Single-writer, between folds, LOCAL paths — the package-wide
constraint for all four structures.
"""

from __future__ import annotations

import os

from python_cdc_spark import fsops


def detect_kind(path: str) -> str | None:
    """Structure kind from its pointer marker: ``bm25`` (``_ptr``),
    ``dedup`` (``_base_ptr``/``_components_ptr``), ``state_store``
    (``_manifest.json``), ``rollup_catalog`` (a directory of rollup
    names each holding ``_meta.json``), or ``None``."""
    if fsops.is_file(os.path.join(path, "_ptr")):
        return "bm25"
    if fsops.is_file(os.path.join(path, "_base_ptr")) or fsops.is_file(
        os.path.join(path, "_components_ptr")
    ):
        return "dedup"
    if fsops.is_file(os.path.join(path, "_manifest.json")):
        return "state_store"
    if any(
        fsops.is_file(os.path.join(path, d, "_meta.json"))
        for d in fsops.list_dir(path)
        if fsops.is_dir(os.path.join(path, d))
    ):
        return "rollup_catalog"
    return None


def vacuum(spark, path: str, retain_last: int = 1, dry_run: bool = False) -> dict:
    """One retention API over all four maintained structures. Returns
    ``{"kind", "removed", "reclaimed_bytes", "live"}`` where ``removed``
    lists path-relative directories (empty when already clean)."""
    kind = detect_kind(path)
    if kind is None:
        raise ValueError(f"no maintained structure recognized at {path}")
    fn = {
        "bm25": _vacuum_bm25,
        "dedup": _vacuum_dedup,
        "state_store": _vacuum_state_store,
        "rollup_catalog": _vacuum_rollup_catalog,
    }[kind]
    removed, live = fn(spark, path, retain_last)
    reclaimed = 0
    for rel in removed:
        full = os.path.join(path, rel)
        reclaimed += fsops.tree_bytes(full)
        if not dry_run:
            if fsops.is_dir(full):
                fsops.remove_tree(full)
            else:
                fsops.remove_file(full)
    if kind == "dedup" and not dry_run:
        _finalize_dedup(path)
    return {
        "kind": kind,
        "removed": sorted(removed),
        "reclaimed_bytes": reclaimed,
        "live": len(live),
        "dry_run": dry_run,
    }


def _finalize_dedup(path: str) -> None:
    """After absorbed delta dirs are deleted, drop their entries from
    the base pointer's ``includes`` so a future fold legitimately
    reusing a tag isn't silently masked. DELETE-then-rewrite order (the
    ``_prune_uncommitted_deltas`` discipline): a crash in between only
    leaves stale includes entries pointing at missing dirs — harmless,
    fixed by the next vacuum/fold — never a double-count."""
    from python_cdc_spark.operators.incremental_dedup import (
        _deltas_root,
        _read_base_ptr_with_token,
        _write_base_ptr,
    )

    ptr, tok = _read_base_ptr_with_token(path)
    if ptr["version"] < 0:
        return
    root = _deltas_root(path)
    live = [
        t for t in ptr["includes"] if fsops.is_dir(os.path.join(root, t))
    ]
    # order-preserving compare against the pointer as stored: rewrite
    # only when entries were actually pruned (a sorted() comparison would
    # rewrite on every vacuum if includes were ever stored unsorted)
    if live != ptr["includes"]:
        _write_base_ptr(path, ptr["version"], live, tok)


# --- BM25 (operators/bm25_index.py) -----------------------------------------


def _vacuum_bm25(spark, path: str, retain_last: int) -> tuple[list[str], set[str]]:
    from python_cdc_spark.operators.bm25_index import read_ptr, vacuum_plan

    return vacuum_plan(path, read_ptr(path))


# --- dedup (operators/incremental_dedup.py) ---------------------------------


def _vacuum_dedup(spark, path: str, retain_last: int) -> tuple[list[str], set[str]]:
    from python_cdc_spark.operators.incremental_dedup import (
        _committed_delta_dirs,
        _current_components_dir,
        _read_base_ptr,
    )

    ptr = _read_base_ptr(path)
    live = set()
    if ptr["version"] >= 0:
        live.add(f"base_v{ptr['version']}")
    for d in _committed_delta_dirs(path, ptr):
        live.add(os.path.join("deltas", os.path.basename(d)))
    comp = os.path.basename(_current_components_dir(path))
    live.add(comp)
    # components grace window: retain_last versions below the current
    # (a racing reader of an old pointer keeps a complete directory)
    if comp.startswith("components_v"):
        cur = int(comp[len("components_v"):])
        for v in range(max(0, cur - retain_last), cur):
            live.add(f"components_v{v}")
    removed = []
    for entry in fsops.list_dir(path):
        # *_staging_*: a crashed writer's private staging dir that
        # never got claimed — age-gated (a young one may belong to a
        # live concurrent writer)
        if entry.startswith(("base_v", "components_v")) and entry not in live:
            removed.append(entry)
        elif entry.startswith(
            ("_base_staging_", "_components_staging_")
        ) and fsops.staging_is_stale(os.path.join(path, entry)):
            removed.append(entry)
    for entry in fsops.list_dir(os.path.join(path, "deltas")):
        rel = os.path.join("deltas", entry)
        if rel not in live:
            removed.append(rel)
    return removed, live


# --- bucketed state store (streaming/state_store.py) -------------------------


def _vacuum_state_store(spark, path: str, retain_last: int) -> tuple[list[str], set[str]]:
    from python_cdc_spark.streaming.state_store import BucketedStateStore

    return BucketedStateStore(spark, path).vacuum_plan(retain_last)


# --- rollup catalog (plans/rollup.py) ----------------------------------------


def _vacuum_rollup_catalog(spark, path: str, retain_last: int) -> tuple[list[str], set[str]]:
    removed, live = [], set()
    for name in fsops.list_dir(path):
        meta = fsops.read_json(os.path.join(path, name, "_meta.json"))
        if meta is None:
            continue
        cur = int(meta.get("version", 0))
        keep = {f"v{v}" for v in range(max(1, cur - retain_last), cur + 1)}
        live |= {os.path.join(name, k) for k in keep}
        for entry in fsops.list_dir(os.path.join(path, name)):
            if (
                entry.startswith("v")
                and entry[1:].isdigit()
                and entry not in keep
            ) or (
                entry.startswith("_v_staging_")
                and fsops.staging_is_stale(os.path.join(path, name, entry))
            ):
                # _v_staging_*: a crashed writer's private staging dir
                # that never got claimed — age-gated (a young one may
                # belong to a live concurrent writer)
                removed.append(os.path.join(name, entry))
    return removed, live
