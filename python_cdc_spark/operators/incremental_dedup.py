"""Incremental near-dup maintenance: index once, process deltas.

At 100 TB you cannot re-run corpus dedup from scratch every time a
crawl lands — the batch pipeline's gram/band tables ARE an index, so
persist them and process only the delta:

- candidate pairs = delta bands vs (index ∪ delta) bands — old↔old
  pairs are never re-examined (their connectivity already lives in the
  stored components);
- verification = exact Jaccard over gram cells, same threshold as the
  batch path;
- cluster merge = connected components over the CONTRACTED graph: old
  clusters participate as their canonical id (one super-node each), so
  the iterative closure touches only components the delta actually
  connects to — work scales with the delta, not the corpus.

``test_incremental_dedup_matches_batch`` pins the contract: any split
of the corpus into base + deltas yields byte-identical components to
the one-shot batch run.

Storage layout under ``path`` (all parquet):
  base_v<N>/{cells,bands,sizes}/
                              — versioned base tables (bootstrap or
                                compaction output)
  _base_ptr                   — JSON {format, version, includes,
                                n_docs}: the current base, the delta
                                tags it absorbed and its corpus size
  deltas/<tag>/{cells,bands,sizes}/ + _COMMITTED
                              — one subdirectory per folded delta,
                                committed all-or-nothing by the marker
  deltas/g<seq>-<tag>/... + evicted/
                              — CDC folds (``cdc_dedup_index_update``):
                                generation-numbered, plus the id list
                                whose earlier-generation images the
                                delta evicts (UPDATE/DELETE)
  components_v<N>/            — versioned cluster tables
  _components_ptr             — JSON {format, version}: the current one

Both pointers carry ``"format": 2`` and there is no other layout. An
unstamped ``_base_ptr`` or the bare-int ``_components_ptr`` of earlier
writers is refused with a ``ValueError`` that says to rebuild; the old
flat layout (base tables directly under ``path``) has no ``_base_ptr``
at all and is not read. New bases and components versions go through
the package's one stage → claim → CAS-publish protocol (``fsops``).

An index read = current base ∪ committed deltas not yet absorbed into
the base (the ``includes`` list) — so compaction is crash-safe too: the
new base and the exclusion of the deltas it merged become visible in
ONE ``os.replace`` of ``_base_ptr``; deleting the absorbed delta
directories afterward is pure cleanup.

Crash safety (ADVICE r4): a fold is idempotent by construction. On
entry it deletes every uncommitted ``deltas/*`` directory (a crash
mid-write leaves no ``_COMMITTED``) and the current tag's directory
even if committed (a crash after commit but before the component swap
replays the fold; re-deriving the same tag from the same delta rows
makes the rewrite byte-equivalent, and re-merging already-merged pairs
is a fixpoint of the contracted closure — both endpoints map to the
same canonical, so the merge graph is empty). The component swap never
deletes the live version: it claims ``components_v<N+1>`` (or the next
free slot), atomically repoints ``_components_ptr``, then prunes
versions older than N — a concurrent reader of version N keeps a
complete directory.

Single-writer assumption, and ``path`` must be a LOCAL filesystem path:
the ``_COMMITTED`` / ``_components_ptr`` markers use ``os`` primitives
while the parquet data goes through Spark's Hadoop FS — an object-store
URI would write data remotely but markers locally, silently voiding the
fold-once guarantee (same constraint as ``streaming/state_store.py``).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from python_cdc_spark import fsops
from python_cdc_spark.functions.digest import content_tag, tagged_checkpoint
from python_cdc_spark.io import write_tables
from python_cdc_spark.operators.components import connected_components
from python_cdc_spark.operators.dedup import _gram_cells, minhash_signatures

_N, _K, _BANDS, _THRESHOLD = 3, 8, 4, 0.5
_TABLES = ("cells", "bands", "sizes")
#: ``format`` stamp of ``_base_ptr`` and ``_components_ptr`` (module
#: docstring); a pointer without it is refused, not read through a
#: fallback
_FORMAT = 2
# Fixed on-disk schemas (ids are longs by layout contract — the
# components table has always been "v long"; ``_delta_tables`` casts).
# Passing them to every read skips the per-directory parquet
# footer-inference job Spark otherwise runs at each spark.read.parquet
# call — a CDC fold reads 3 tables × (base + deltas) + evicted + the
# components table, ~10 schema-inference jobs of pure scheduler floor
# per fold before this (r13 measurement).
_TABLE_SCHEMAS = {
    "cells": "id long, gram string",
    "bands": "id long, band_id int, band_key string",
    "sizes": "id long, set_size long",
}
_EVICTED_SCHEMA = "id long"
_COMPONENTS_SCHEMA = "v long, component long"
# CDC fold → full-recompute crossover: past this affected-membership
# fraction the members-restricted subgraph (three corpus-scale
# semi-joins + composition) costs more than one unrestricted candidate
# pass over the stored post-change tables. Measured in
# BENCH_DEDUP_CDC.json's delta-width sweep (the r10 verdict #6 receipt).
_AFFECTED_REBUILD_FRACTION = 0.35


def _band_stack(sigs: DataFrame, k: int = _K, bands: int = _BANDS) -> DataFrame:
    """(id, band_id, band_key) — the banded LSH index rows."""
    r = k // bands
    band_keys = [
        F.md5(
            F.concat_ws("|", *[F.col(f"mh_{b * r + j}") for j in range(r)])
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sigs.select("id", *band_keys)
    return banded.select(
        "id",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(b) for b in range(bands)]),
                F.array(*[F.col(f"band_{b}") for b in range(bands)]),
            )
        ).alias("band_id", "band_key"),
    )


def _verify_pairs(
    cand: DataFrame, cells: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard disposal of candidate (id_a, id_b) pairs."""
    ga = cells.select(F.col("id").alias("id_a"), "gram")
    gb = cells.select(F.col("id").alias("gb_id"), F.col("gram").alias("gram_b"))
    shared = (
        cand.join(ga, "id_a")
        .join(
            gb,
            (F.col("id_b") == F.col("gb_id")) & (F.col("gram") == F.col("gram_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b"))
    jac = F.col("shared").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("shared")
    ).cast("double")
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b")
    )


def _delta_tables(
    docs: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    # long ids by layout contract (components are "v long" and the CDC
    # fold casts); enforcing it here lets every read use the fixed
    # ``_TABLE_SCHEMAS`` instead of paying schema inference per dir
    docs = docs.select(F.col(id_col).cast("long").alias(id_col), text_col)
    # not checkpointed: the cells are spread on the id, so the signature
    # and size aggregations run in the tokenizing tasks, and one write of
    # the three tables reuses that one shuffle
    cells = _gram_cells(docs, text_col, id_col, _N)
    sigs = minhash_signatures(
        docs, text_col, id_col, n=_N, k=_K, one_permutation=True, cells=cells
    )
    bands = _band_stack(sigs)
    sizes = cells.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    return cells, bands, sizes


# --- index layout helpers -------------------------------------------------


def _deltas_root(path: str) -> str:
    return os.path.join(path, "deltas")


def _base_pointer(path: str) -> str:
    return os.path.join(path, "_base_ptr")


def _read_base_ptr(path: str) -> dict:
    """{"format", "version": N, "includes": [tags], "n_docs"}, or
    version -1 with nothing absorbed before the first build."""
    return _read_base_ptr_with_token(path)[0]


def _read_base_ptr_with_token(path: str) -> tuple[dict, object]:
    """Pointer plus identity token for a conditional ``_write_base_ptr``
    (optimistic concurrency at the swap; fsops.cas_publish). A pointer
    without the current format is refused (fsops.check_format)."""
    ptr, tok = fsops.read_json_with_token(_base_pointer(path))
    if tok is None:
        return {"version": -1, "includes": []}, tok
    return fsops.check_format(ptr, _FORMAT, _base_pointer(path)), tok


def _write_base_ptr(
    path: str,
    version: int,
    includes: list[str],
    expected_token: object,
    n_docs: int,
) -> None:
    """Commit point: conditional on the pointer not having moved since
    this writer's read — racing rebuild/compact/prune writers resolve
    to one winner, the loser raising ConcurrentWriterError. ``n_docs``
    records the base corpus size so folds can derive the reroute-check
    denominator from metadata instead of an O(corpus) scan per fold
    (r13; see ``_corpus_count``)."""
    fsops.cas_publish(
        _base_pointer(path),
        {
            "format": _FORMAT,
            "version": version,
            "includes": sorted(includes),
            "n_docs": int(n_docs),
        },
        expected_token,
    )


def _base_dir(path: str, version: int) -> str:
    return os.path.join(path, f"base_v{version}")


def _claim_base(path: str, hint: int, write_tables) -> tuple[str, int]:
    """Stage a new base (``write_tables`` is called with the staging
    path), then claim the first free ``base_v*`` slot at-or-past
    ``hint`` (fsops.claim). Returns (claimed dir, claimed version) —
    the pointer must record the claimed version, not the hint."""
    stage = fsops.staging(path)
    write_tables(stage)
    v = fsops.claim(stage, functools.partial(_base_dir, path), hint)
    return _base_dir(path, v), v


def _committed_delta_dirs(path: str, ptr: dict | None = None) -> list[str]:
    """Committed delta dirs NOT yet absorbed into the current base."""
    ptr = ptr if ptr is not None else _read_base_ptr(path)
    absorbed = set(ptr["includes"])
    root = _deltas_root(path)
    return sorted(
        os.path.join(root, d)
        for d in fsops.list_dir(root)
        if d not in absorbed
        and fsops.is_file(os.path.join(root, d, "_COMMITTED"))
    )


def _prune_uncommitted_deltas(path: str) -> None:
    """Delete partial delta directories left by a crashed fold (no
    ``_COMMITTED`` marker), and absorbed ones a crashed compaction did
    not get to clean up. Single-writer: only the folding process may
    call this."""
    root = _deltas_root(path)
    if not fsops.is_dir(root):
        return
    absorbed = set(_read_base_ptr(path)["includes"])
    for d in fsops.list_dir(root):
        full = os.path.join(root, d)
        if d in absorbed or not fsops.is_file(os.path.join(full, "_COMMITTED")):
            fsops.remove_tree(full)
    prune_includes(path)


def prune_includes(path: str) -> None:
    """Drop ``includes`` entries whose delta directories are gone, so a
    future fold that legitimately reuses the tag isn't silently masked.
    Runs AFTER the directories are deleted: a crash in between leaves
    only stale entries pointing at missing dirs, never an absorbed
    delta read twice. ``n_docs`` passes through unchanged. The fold's
    prune and ``maintenance.vacuum`` both end with it."""
    ptr, tok = _read_base_ptr_with_token(path)
    root = _deltas_root(path)
    live = [t for t in ptr["includes"] if fsops.is_dir(os.path.join(root, t))]
    if ptr["version"] >= 0 and live != ptr["includes"]:
        _write_base_ptr(path, ptr["version"], live, tok, ptr["n_docs"])


def _cdc_gen(dirpath: str) -> int:
    """Generation of a delta directory. CDC folds name their dirs
    ``g<seq>-<tag>`` (monotone seq); insert-only folds use the bare
    content tag and read as generation 0 (they never evict, and the
    documented contract is CDC-API-exclusive once the first CDC fold
    lands, so ordering between them never matters)."""
    base = os.path.basename(dirpath)
    if base.startswith("g") and "-" in base:
        head = base[1:].split("-", 1)[0]
        if head.isdigit():
            return int(head)
    return 0


def read_index_tables(
    spark: SparkSession, path: str, names: tuple[str, ...] = _TABLES
) -> dict[str, DataFrame]:
    """Several of cells/bands/sizes from ONE pointer read: each table is
    the current base unioned with every committed, not-yet-absorbed
    delta directory (partial folds are invisible), minus rows a LATER
    generation evicted.

    Eviction is generation-aware so an UPDATE replaces its old image
    without resurrecting it: a CDC delta's ``evicted`` id list applies
    to every strictly-earlier generation (base = 0), never to the
    evicting delta's own re-inserted rows or later ones. Per-delta
    eviction lists are batch-scale, so the anti-joins broadcast.

    The evicted-id set at a generation boundary depends only on the set
    of strictly-later delta dirs — not on which table is being read —
    so one frame per boundary is shared by every table in ``names``,
    and a plan reading several of them broadcasts it once (r13: a fold
    read all three tables through separate calls and paid the evicted
    scan and broadcast build three times per boundary). It needs no
    distinct: an id listed twice anti-joins the same rows."""
    ptr = _read_base_ptr(path)
    deltas = _committed_delta_dirs(path, ptr)
    evs = [
        (_cdc_gen(d), os.path.join(d, "evicted"))
        for d in deltas
        if os.path.isdir(os.path.join(d, "evicted"))
    ]
    ev_frames: dict[tuple[str, ...], DataFrame] = {}

    def _ev_for(gen: int) -> DataFrame | None:
        later = tuple(e for g, e in evs if g > gen)
        if not later:
            return None
        if later not in ev_frames:
            ev_frames[later] = spark.read.schema(_EVICTED_SCHEMA).parquet(*later)
        return ev_frames[later]

    out: dict[str, DataFrame] = {}
    for name in names:
        dirs = [(0, os.path.join(_base_dir(path, ptr["version"]), name))] + [
            (_cdc_gen(d), os.path.join(d, name)) for d in deltas
        ]
        schema = _TABLE_SCHEMAS[name]  # fixed layout: no inference job per dir
        if not evs:
            out[name] = spark.read.schema(schema).parquet(*[p for _, p in dirs])
            continue
        acc = None
        for gen, p in dirs:
            df = spark.read.schema(schema).parquet(p)
            ev = _ev_for(gen)
            if ev is not None:
                df = df.join(F.broadcast(ev), "id", "left_anti")
            acc = df if acc is None else acc.unionByName(df)
        out[name] = acc
    return out


def read_index_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    """One index table — see ``read_index_tables`` (which callers that
    need several tables should use, to share the per-boundary evicted
    frames and the pointer read)."""
    return read_index_tables(spark, path, (name,))[name]


def _components_pointer(path: str) -> str:
    return os.path.join(path, "_components_ptr")


def _components_dir(path: str, version: int) -> str:
    return os.path.join(path, f"components_v{version}")


def _read_components_version(path: str) -> tuple[int, object]:
    """Current components version (-1 before the first build) and the
    pointer's identity token. A pointer without the current format (the
    bare-int pointer of earlier layouts) is refused."""
    got, tok = fsops.read_json_with_token(_components_pointer(path))
    if tok is None:
        return -1, tok
    return fsops.check_format(got, _FORMAT, _components_pointer(path))["version"], tok


def _current_components_dir(path: str) -> str:
    return _components_dir(path, _read_components_version(path)[0])


def read_components(spark: SparkSession, path: str) -> DataFrame:
    """Current (v, component) clusters — exact as of the last fold."""
    return spark.read.schema(_COMPONENTS_SCHEMA).parquet(
        _current_components_dir(path)
    )


def _swap_components(path: str, new_comp: DataFrame) -> None:
    """Publish a new components version without ever leaving the index
    table-less: stage, claim the first free slot past the current one
    (fsops.claim), conditionally repoint (CAS on the pointer read — a
    racing writer loses cleanly), prune versions < N (the
    immediately-previous version survives one generation so a racing
    reader of the old pointer still finds a complete dir)."""
    cur, tok = _read_components_version(path)
    stage = fsops.staging(path)
    new_comp.write.mode("overwrite").parquet(stage)
    nxt = fsops.claim(stage, functools.partial(_components_dir, path), cur + 1)
    fsops.cas_publish(
        _components_pointer(path), {"format": _FORMAT, "version": nxt}, tok
    )
    for d in fsops.list_dir(path):
        v = d[len("components_v"):]
        if d.startswith("components_v") and v.isdigit() and int(v) < cur:
            fsops.remove_tree(os.path.join(path, d))


def vacuum_plan(path: str, retain_last: int) -> tuple[list[str], set[str]]:
    """``(removable, live)``, both relative to the index root. ``live``
    is the current base, the committed deltas it has not absorbed, the
    current components version and ``retain_last`` versions below it
    (a racing reader of an old pointer keeps a complete directory).
    Every other base, components or delta dir is removable, and so is
    staging past the age gate (``fsops.is_stale_staging``). The dedup
    entry of ``maintenance.vacuum``."""
    ptr = _read_base_ptr(path)
    cur = _read_components_version(path)[0]
    live = {
        os.path.basename(_components_dir(path, v))
        for v in range(max(0, cur - retain_last), cur + 1)
    }
    if ptr["version"] >= 0:
        live.add(os.path.basename(_base_dir(path, ptr["version"])))
    live |= {
        os.path.relpath(d, path) for d in _committed_delta_dirs(path, ptr)
    }
    removable = [
        e
        for e in fsops.list_dir(path)
        if (e.startswith(("base_v", "components_v")) and e not in live)
        or fsops.is_stale_staging(path, e)
    ]
    removable += [
        os.path.join("deltas", e)
        for e in fsops.list_dir(_deltas_root(path))
        if os.path.join("deltas", e) not in live
    ]
    return removable, live


def _delta_fingerprint(delta_docs: DataFrame, id_col: str) -> str:
    """Deterministic content tag for a delta over its ids (see
    ``functions/digest``)."""
    return content_tag(delta_docs, F.col(id_col).cast("string"))[0]


def build_dedup_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Batch bootstrap: gram/band/size base tables + initial components.
    Rebuilding over an existing index restarts it: the new base pointer
    absorbs nothing, and stale delta directories are cleared."""
    ptr, tok = _read_base_ptr_with_token(path)
    nxt = ptr["version"] + 1
    # stage-and-claim (fsops.claim): build into a
    # writer-private dir, then claim the first free base_v slot — a
    # racing writer's staged/committed base is never clobbered; the
    # CAS'd pointer publish below then picks exactly one winner
    base, nxt = _claim_base(
        path,
        nxt,
        lambda stage: write_tables(
            dict(zip(_TABLES, _delta_tables(docs, text_col, id_col))), stage
        ),
    )
    # exact corpus size recorded in the pointer: folds derive their
    # reroute denominator from metadata instead of scanning sizes
    n_docs = (
        spark.read.schema(_TABLE_SCHEMAS["sizes"])
        .parquet(os.path.join(base, "sizes"))
        .count()
    )
    _write_base_ptr(path, nxt, [], tok, n_docs)
    fsops.remove_tree(_deltas_root(path))  # fresh bootstrap
    if ptr["version"] >= 0:
        fsops.remove_tree(_base_dir(path, ptr["version"]))
    b = spark.read.schema(_TABLE_SCHEMAS["bands"]).parquet(os.path.join(base, "bands"))
    x, y = b.alias("x"), b.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    cells_r = spark.read.schema(_TABLE_SCHEMAS["cells"]).parquet(
        os.path.join(base, "cells")
    )
    sizes_r = spark.read.schema(_TABLE_SCHEMAS["sizes"]).parquet(
        os.path.join(base, "sizes")
    )
    pairs = _verify_pairs(cand, cells_r, sizes_r, _THRESHOLD)
    comp = connected_components(pairs, "id_a", "id_b")
    _swap_components(path, comp)


def incremental_dedup_update(
    spark: SparkSession,
    path: str,
    delta_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_tag: str | None = None,
) -> DataFrame:
    """Fold a delta into the index; returns the UPDATED (v, component)
    mapping (non-singletons only, canonical = cluster-min id — the same
    shape ``connected_components`` returns for a batch run).

    The only corpus-wide work is two index reads joined ON KEY (band
    key, gram); everything iterative runs on the contracted graph.

    ``batch_tag`` names the delta's subdirectory (streaming passes the
    micro-batch id); when omitted the tag is derived from the delta's
    content fingerprint, so replaying the same delta after a crash
    reuses — and first deletes — the same directory instead of
    appending a duplicate.
    """
    tag = batch_tag if batch_tag is not None else _delta_fingerprint(delta_docs, id_col)
    delta_dir = os.path.join(_deltas_root(path), str(tag))
    # CDC-API-exclusive contract, ENFORCED (r10 ADVICE): insert-only
    # delta dirs read as generation 0, so a fold landed here AFTER any
    # CDC fold would have its rows evicted by every existing generation's
    # evicted list — silently dropped inserts. Route through the CDC API.
    root = _deltas_root(path)
    if any(_cdc_gen(d) > 0 for d in fsops.list_dir(root)):
        raise ValueError(
            "index has taken CDC folds (generation directories exist); "
            "use cdc_dedup_index_update for all further folds"
        )
    # idempotence: clear partials from any crashed fold, and this tag's
    # directory even if committed (crash after commit, before swap /
    # marker — recomputation is a fixpoint, see module docstring)
    _prune_uncommitted_deltas(path)
    fsops.remove_tree(delta_dir)

    d_cells, d_bands, d_sizes = _delta_tables(delta_docs, text_col, id_col)
    d_cells = d_cells.localCheckpoint(eager=False)
    d_bands = d_bands.localCheckpoint(eager=False)
    old_tabs = read_index_tables(spark, path)
    old_cells, old_bands, old_sizes = (
        old_tabs["cells"], old_tabs["bands"], old_tabs["sizes"],
    )
    old_comp = read_components(spark, path)

    all_bands = old_bands.unionByName(d_bands)
    # candidates touching the delta: delta side x full band index
    cand = (
        d_bands.alias("x")
        .join(
            all_bands.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") != F.col("y.id")),
        )
        .select(
            F.least(F.col("x.id"), F.col("y.id")).alias("id_a"),
            F.greatest(F.col("x.id"), F.col("y.id")).alias("id_b"),
        )
        .distinct()
    )
    all_cells = old_cells.unionByName(d_cells)
    all_sizes = old_sizes.unionByName(d_sizes)
    new_pairs = _verify_pairs(cand, all_cells, all_sizes, _THRESHOLD)

    # contract: old ids participate as their canonical
    def canon(df: DataFrame, col: str) -> DataFrame:
        m = old_comp.select(
            F.col("v").alias(col), F.col("component").alias(f"__c_{col}")
        )
        return df.join(m, col, "left").withColumn(
            col, F.coalesce(F.col(f"__c_{col}"), F.col(col))
        ).drop(f"__c_{col}")

    contracted = canon(canon(new_pairs, "id_a"), "id_b").filter(
        F.col("id_a") != F.col("id_b")
    )
    merged = connected_components(contracted, "id_a", "id_b")
    # compose: every doc's old canonical re-maps through the merge
    m = merged.select(F.col("v").alias("component"), F.col("component").alias("__new"))
    composed_old = (
        old_comp.join(m, "component", "left")
        .select("v", F.coalesce(F.col("__new"), F.col("component")).alias("component"))
    )
    # vertices NEW to the component table: delta docs in a pair, plus
    # old singletons a delta doc just connected to (they were never in
    # old_comp — ``canon`` left them uncontracted). Root self-rows stay,
    # matching the batch ``connected_components`` output shape.
    new_members = merged.join(old_comp.select(F.col("v")), "v", "left_anti")
    new_comp = composed_old.unionByName(new_members.select("v", "component"))
    new_comp = new_comp.localCheckpoint(eager=True)  # sever lineage before swap

    # fold the delta in all-or-nothing: write the three tables into the
    # tag's subdirectory (one job), then the _COMMITTED marker (atomic
    # create)
    write_tables(dict(zip(_TABLES, (d_cells, d_bands, d_sizes))), delta_dir)
    fsops.write_marker(os.path.join(delta_dir, "_COMMITTED"), str(tag))
    _swap_components(path, new_comp)
    return new_comp


def _corpus_count(spark: SparkSession, path: str, ptr: dict) -> int | None:
    """Pointer-tracked corpus-size ESTIMATE for the reroute-fraction
    checks: base ``n_docs`` (recorded at build/compact) adjusted by
    each committed CDC delta's (placed − evicted) id counts from its
    ``_counts.json`` sidecar. Metadata-only — the exact
    ``post_sizes.count()`` it replaces was an O(corpus) scan inside
    the O(delta) fold path (r13). Returns None (caller falls back to
    the exact count) when an insert-only fold's delta dir, which
    writes no sidecar, is live.

    Estimate semantics, deliberately: a DELETE of an absent id or an
    INSERT of an existing id drifts the estimate by one; both reroute
    tiers are COST-PLACEMENT decisions between two exact plans
    (module docstring), so drift can only shift which exact plan runs.
    Compaction re-counts exactly and resets the base."""
    n = int(ptr["n_docs"])
    for d in _committed_delta_dirs(path, ptr):
        c = fsops.read_json(os.path.join(d, "_counts.json"))
        if c is None:
            return None
        n += int(c.get("new", 0)) - int(c.get("evicted", 0))
    return max(n, 0)


def cdc_dedup_index_update(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    op_col: str = "operation",
    batch_tag: str | None = None,
) -> DataFrame:
    """Fold an I/U/D CDC delta into the dedup index — the near-dup
    analog of the CDC-maintained rollup and ANN index: the index (and
    its exact cluster table) tracks a replicated document corpus
    through inserts, updates, and deletes in O(delta + affected
    clusters), never O(corpus).

    ``delta`` carries (``op_col`` ∈ INSERT/UPDATE/DELETE, ``id_col``,
    ``text_col`` — the NEW text for INSERT/UPDATE, ignored for DELETE).

    Mechanics:

    - **Index tables**: UPDATE/DELETE ids go to the delta's ``evicted``
      list (generation-aware reads drop the old images); INSERT/UPDATE
      new images get fresh gram/band/size rows. One delta directory,
      committed all-or-nothing by the ``_COMMITTED`` marker — identical
      crash discipline to the insert-only fold.
    - **Clusters, exactly**: deletions can SPLIT a component and
      insertions can MERGE two, so contracted-graph folding is not
      enough. Instead: the affected component set = components owning
      any evicted id ∪ components of any band-collision partner of a
      new image. Their members (minus evicted, plus new/partner docs)
      form a subgraph whose candidate pairs re-derive from the stored
      post-change bands and verify against the stored post-change
      cells — O(affected members), with every verified old↔old edge
      inside one component by CC's definition, so no cross-boundary
      edge can be missed. Untouched components carry over unchanged.

    Returns the updated (v, component) table (non-singletons, component
    = cluster-min id — same contract as the batch operator). Once an
    index takes CDC folds, keep using this API (the insert-only fold
    does not know about evictions ordered after its rows)."""
    delta = delta.select(
        F.col(op_col).alias("__op"),
        F.col(id_col).cast("long").alias(id_col),
        F.col(text_col).alias(text_col),
    )
    # The content tag names the delta dir, observed on the delta's own
    # checkpoint job. Its digest covers (op, id, TEXT): op so an
    # INSERT-then-DELETE of the same ids in two later folds cannot
    # collide, and text (r10 ADVICE) so a second UPDATE wave over the
    # same id multiset with different content cannot alias an earlier
    # fold's tag and rewrite its generation (which would let later
    # generations' evicted lists suppress the newest images).
    delta, tag, _ = tagged_checkpoint(
        delta,
        F.concat_ws(
            ":",
            F.col("__op"),
            F.col(id_col).cast("string"),
            F.coalesce(F.col(text_col), F.lit("\x00")),
        ),
    )
    if batch_tag is not None:
        tag = batch_tag
    _prune_uncommitted_deltas(path)
    root = _deltas_root(path)
    seq = 1
    for d in fsops.list_dir(root):
        g = _cdc_gen(d)
        if d.endswith(f"-{tag}"):
            seq = g  # replay: reuse the crashed fold's generation
            fsops.remove_tree(os.path.join(root, d))
            break
        seq = max(seq, g + 1)
    delta_dir = os.path.join(root, f"g{seq:06d}-{tag}")

    # one row per delta id with what its ops do: UPDATE/DELETE evict,
    # INSERT/UPDATE place (rows with any other op count for the tag but
    # nowhere else). Its checkpoint job observes the delta's distinct-id
    # counts: the width feeds the reroute-fraction check, the
    # evicted/placed counts the pointer-tracked corpus size.
    op = F.col("__op")
    widths = Observation()
    counted = F.col("id").isNotNull()
    ids = (
        delta.groupBy(F.col(id_col).alias("id"))
        .agg(
            F.max(op.isin("UPDATE", "DELETE")).alias("ev"),
            F.max(op.isin("INSERT", "UPDATE")).alias("nw"),
            F.max(op.isin("INSERT", "UPDATE", "DELETE")).alias("any"),
        )
        .observe(
            widths,
            *[F.count(F.when(counted & F.col(c), 1)).alias(c) for c in ("any", "ev", "nw")],
        )
        .localCheckpoint(eager=True)
    )
    n_delta_ids, n_ev_ids, n_new_ids = (int(widths.get[c]) for c in ("any", "ev", "nw"))
    evicted = ids.filter("ev").select("id")
    new_docs = delta.filter(F.col("__op").isin("INSERT", "UPDATE")).select(
        id_col, text_col
    )
    d_cells, d_bands, d_sizes = _delta_tables(new_docs, text_col, id_col)
    # the four delta tables go out in ONE Spark write (io.write_tables);
    # the _COMMITTED marker still lands only after it
    write_tables(
        {"cells": d_cells, "bands": d_bands, "sizes": d_sizes, "evicted": evicted},
        delta_dir,
    )
    # corpus-size sidecar (metadata: feeds _corpus_count) rides in the
    # delta dir, before the marker so a committed delta always has it
    fsops.publish_json(
        os.path.join(delta_dir, "_counts.json"),
        {"new": n_new_ids, "evicted": n_ev_ids},
    )
    fsops.write_marker(os.path.join(delta_dir, "_COMMITTED"), str(tag))

    # post-change index: includes this delta, excludes evicted images
    # (one shared read-set: the evicted distinct frames are built once
    # per generation boundary, not once per table)
    post_tabs = read_index_tables(spark, path)
    post_cells, post_bands, post_sizes = (
        post_tabs["cells"], post_tabs["bands"], post_tabs["sizes"],
    )
    old_comp = read_components(spark, path).localCheckpoint(eager=False)

    new_ids = new_docs.select(F.col(id_col).alias("id")).distinct()
    # Wide-delta reroute, FIRST TIER (r10 verdict #6): when the delta's
    # own ids already exceed the crossover fraction of the corpus, skip
    # the partner scan (itself a corpus-scale band join) and take one
    # unrestricted candidate pass over the stored post-change tables —
    # the rebuild plan, reading the just-folded index. Exact either way.
    # The denominator comes from pointer metadata when available
    # (_corpus_count) — the exact count was an O(corpus) scan inside
    # the O(delta) path; live insert-only deltas fall back to it.
    ptr_now = _read_base_ptr(path)
    n_corpus = _corpus_count(spark, path, ptr_now)
    if n_corpus is None:
        n_corpus = post_sizes.count()
    if n_corpus and n_delta_ids / n_corpus > _AFFECTED_REBUILD_FRACTION:
        x, y = post_bands.alias("x"), post_bands.alias("y")
        cand = (
            x.join(
                y,
                (F.col("x.band_id") == F.col("y.band_id"))
                & (F.col("x.band_key") == F.col("y.band_key"))
                & (F.col("x.id") < F.col("y.id")),
            )
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct()
        )
        pairs = _verify_pairs(cand, post_cells, post_sizes, _THRESHOLD)
        # checkpointed by connected_components, materialized by the swap's
        # write: the result outlives the index directory
        new_comp = connected_components(pairs, "id_a", "id_b")
        _swap_components(path, new_comp)
        return new_comp
    # partners: every doc whose band collides with a new image's band
    partners = (
        d_bands.alias("x")
        .join(
            post_bands.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") != F.col("y.id")),
        )
        .select(F.col("y.id").alias("id"))
        .distinct()
    )
    aff_seed = evicted.unionByName(partners).unionByName(new_ids).distinct()
    # lazy checkpoints: the members count() below (and the final
    # new_comp materialization) force them — no dedicated jobs
    aff_comp_ids = (
        old_comp.join(aff_seed.withColumnRenamed("id", "v"), "v", "left_semi")
        .select("component")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # membership: affected components' old members and partner
    # singletons, minus every evicted OLD image — then the new images
    # re-join (an UPDATE's id is in both lists: its old image leaves,
    # its new image participates)
    members = (
        old_comp.join(aff_comp_ids, "component", "left_semi")
        .select(F.col("v").alias("id"))
        .unionByName(partners)
        .join(evicted, "id", "left_anti")
        .unionByName(new_ids)
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Wide-delta reroute, SECOND TIER (the rollup catalog's
    # measured-faster discipline): a NARROW delta can still seed a wide
    # affected set through band collisions — when the membership passes
    # the crossover, the members-restricted subgraph costs corpus-scale
    # semi-joins PLUS bookkeeping, so take the unrestricted pass.
    # BENCH_DEDUP_CDC's delta-width sweep measures both tiers; both
    # plans are exact, so the reroute changes cost placement, never
    # results.
    n_members = members.count()
    if n_corpus and n_members / n_corpus > _AFFECTED_REBUILD_FRACTION:
        x, y = post_bands.alias("x"), post_bands.alias("y")
        cand = (
            x.join(
                y,
                (F.col("x.band_id") == F.col("y.band_id"))
                & (F.col("x.band_key") == F.col("y.band_key"))
                & (F.col("x.id") < F.col("y.id")),
            )
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct()
        )
        pairs = _verify_pairs(cand, post_cells, post_sizes, _THRESHOLD)
        new_comp = connected_components(pairs, "id_a", "id_b")
        _swap_components(path, new_comp)
        return new_comp
    mb = post_bands.join(members, "id", "left_semi")
    cand = (
        mb.alias("x")
        .join(
            mb.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    pairs = _verify_pairs(
        cand,
        post_cells.join(members, "id", "left_semi"),
        post_sizes.join(members, "id", "left_semi"),
        _THRESHOLD,
    )
    sub_comp = connected_components(pairs, "id_a", "id_b")
    new_comp = (
        old_comp.join(aff_comp_ids, "component", "left_anti")
        .select("v", "component")  # the anti-join key moved to the front
        .unionByName(sub_comp)
        .localCheckpoint(eager=True)
    )
    _swap_components(path, new_comp)
    return new_comp


def compact_dedup_index(spark: SparkSession, path: str) -> int:
    """Merge committed delta directories into a new base version, then
    repoint ``_base_ptr`` atomically — bounds the file-listing cost of
    a long fold history. Returns the number of deltas compacted.

    Crash-safe: until the single ``os.replace`` of the pointer, reads
    keep serving old base + deltas; after it, the new base whose
    ``includes`` list excludes exactly those deltas. Deleting the
    absorbed directories afterward is cleanup (retried by the next
    fold's prune). Run between folds; a racing writer loses at the
    CAS'd pointer publish with its claimed base slot left for vacuum."""
    ptr, tok = _read_base_ptr_with_token(path)
    deltas = _committed_delta_dirs(path, ptr)
    if not deltas:
        return 0
    tabs = read_index_tables(spark, path)  # shared evicted frames
    newbase, nxt = _claim_base(
        path,
        ptr["version"] + 1,
        lambda stage: [
            tabs[name].write.mode("overwrite").parquet(os.path.join(stage, name))
            for name in _TABLES
        ],
    )
    absorbed = ptr["includes"] + [os.path.basename(d) for d in deltas]
    # compaction re-counts the corpus EXACTLY (it just rewrote it),
    # resetting any drift the per-delta estimates accumulated
    n_docs = (
        spark.read.schema(_TABLE_SCHEMAS["sizes"])
        .parquet(os.path.join(newbase, "sizes"))
        .count()
    )
    _write_base_ptr(path, nxt, absorbed, tok, n_docs)
    for d in deltas:
        fsops.remove_tree(d)
    if ptr["version"] >= 0:
        fsops.remove_tree(_base_dir(path, ptr["version"]))
    return len(deltas)
