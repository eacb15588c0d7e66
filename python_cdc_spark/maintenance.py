"""One vacuum over the CDC-maintained structures, dispatched by kind.

The rollup catalog, dedup index, BM25 text index and bucketed state
store all commit through the ``fsops`` stage → claim → CAS-publish
protocol: immutable version directories published by an atomic pointer
(``_meta.json`` / ``_base_ptr``+``_components_ptr`` / ``_ptr`` /
``_manifest.json``), with superseded directories and crashed writers'
staging left behind as garbage. Each structure owns its on-disk naming
and derives its own ``(removable, live)`` plan from its committed
pointer(s); this module only detects the kind from its marker file,
looks the plan up in one table, deletes what the plan names and
returns a receipt (kind, removed dirs, bytes reclaimed, live set size)
so storage stays measurably bounded under any fold history.

Crash-safety is inherited, not bolted on: every plan's live set is
derived purely from committed pointers, and vacuum only ever DELETES
unreferenced directories — so any prefix of a vacuum (a crash midway)
leaves every committed pointer resolvable and the structure fully
readable. A re-run finishes the sweep. Pinned by
``tests/test_maintenance.py``.

Retention: ``retain_last`` keeps that many superseded versions below
the current one where the structure supports time travel (state-store
manifests, rollup versions, dedup components grace versions);
structures without a time-travel contract (BM25 buckets, dedup deltas)
ignore it — their pointer is the only valid view.

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


def _plans() -> dict:
    """kind → ``(plan(spark, path, retain_last) -> (removable, live),
    after(path) or None)``; ``after`` runs once the removable dirs are
    gone (dedup drops the ``includes`` entries of deleted deltas)."""
    from python_cdc_spark.operators import bm25_index, incremental_dedup
    from python_cdc_spark.plans import rollup
    from python_cdc_spark.streaming.state_store import BucketedStateStore

    return {
        "bm25": (lambda s, p, k: bm25_index.vacuum_plan(p, bm25_index.read_ptr(p)), None),
        "dedup": (
            lambda s, p, k: incremental_dedup.vacuum_plan(p, k),
            incremental_dedup.prune_includes,
        ),
        "state_store": (lambda s, p, k: BucketedStateStore(s, p).vacuum_plan(k), None),
        "rollup_catalog": (lambda s, p, k: rollup.vacuum_plan(p, k), None),
    }


def vacuum(spark, path: str, retain_last: int = 1, dry_run: bool = False) -> dict:
    """One retention API over all four maintained structures. Returns
    ``{"kind", "removed", "reclaimed_bytes", "live"}`` where ``removed``
    lists path-relative directories (empty when already clean)."""
    kind = detect_kind(path)
    if kind is None:
        raise ValueError(f"no maintained structure recognized at {path}")
    plan, after = _plans()[kind]
    removed, live = plan(spark, path, retain_last)
    reclaimed = 0
    for rel in removed:
        full = os.path.join(path, rel)
        reclaimed += fsops.tree_bytes(full)
        if not dry_run:
            if fsops.is_dir(full):
                fsops.remove_tree(full)
            else:
                fsops.remove_file(full)
    if after is not None and not dry_run:
        after(path)
    return {
        "kind": kind,
        "removed": sorted(removed),
        "reclaimed_bytes": reclaimed,
        "live": len(live),
        "dry_run": dry_run,
    }
