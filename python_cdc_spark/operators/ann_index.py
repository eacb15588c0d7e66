"""Persistent ANN index: the build-once / query-many contract on disk.

The in-process caches (`_fitted_centroids`, `_pq_codebook`, …) amortize
index build within a session; this module persists the two index halves
so a separate query job — or a 1000-executor cluster — starts from
parquet:

- ``centroids`` / ``codebook``: k-row / m·k-row metadata → single
  parquet files.
- ``cells``: the inverted lists JOINED with the codes — one row per
  (vec_id, sub, code) carrying the coarse ``cell`` — written
  Hive-partitioned BY CELL. A query probing ``nprobe`` cells then reads
  ONLY those directories: the probe is partition PRUNING
  (``PartitionFilters`` in the scan), not a filter over the full codes
  table. At 100 TB this is the difference between scanning nprobe/k of
  the index and scanning all of it to throw most away.

Layout under ``<dir>/``: ``centroids.parquet``, ``codebook.parquet``,
``cells.parquet/cell=<c>/…``.

``dir`` must be a LOCAL filesystem path: the ``_meta.json``
fingerprint/staleness markers use ``os`` primitives while the parquet
data goes through Spark's Hadoop FS — an object-store URI would write
data remotely but markers locally, silently voiding the staleness
guarantee. On a cluster, point this at shared POSIX storage (or route
marker IO through the Hadoop FileSystem API before using object
stores). Same constraint as ``streaming/state_store.py`` and
``operators/incremental_dedup.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from python_cdc_spark import fsops
from python_cdc_spark.io import write_partitioned
from python_cdc_spark.session import cluster


def source_fingerprint(*paths: str) -> str:
    """Cheap staleness key for a persisted index: size+mtime of each
    source parquet file (the driver regenerates testdata between rounds
    — an index built against last round's embeddings must NOT be loaded
    against this round's). Stat-only: no data read."""
    parts = []
    for p in sorted(paths):
        st = os.stat(p)
        parts.append(f"{os.path.basename(p)}:{st.st_size}:{int(st.st_mtime_ns)}")
    return "|".join(parts)


#: ``format`` stamp of every ``_meta.json`` this module (and the rollup
#: catalog, which shares its currency gate) writes; ``meta_is_current``
#: treats any other meta as stale and the readers refuse it
META_FORMAT = 2


def _meta_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_meta.json")


def _read_meta_with_token(out_dir: str) -> tuple[dict, object]:
    """The index's meta and identity token, refused unless it carries
    :data:`META_FORMAT` (fsops.check_format)."""
    meta, tok = fsops.read_json_with_token(_meta_path(out_dir))
    return fsops.check_format(meta, META_FORMAT, _meta_path(out_dir)), tok


def _write_meta(
    out_dir: str, fingerprint: str, params: dict, extra: dict | None = None
) -> None:
    meta = {"format": META_FORMAT, "fingerprint": fingerprint, "params": params}
    if extra:
        meta.update(extra)
    fsops.publish_json(_meta_path(out_dir), meta)


def _schemas_entry(**dfs: DataFrame) -> dict[str, str]:
    """{table: schema json} recorded in ``_meta.json`` at save time so
    every later open passes an explicit schema — skipping the one-job
    parquet footer inference Spark runs per schemaless read (r13
    job-floor pass; the ANN query family opens 2-3 tables per query)."""
    return {name: df.schema.json() for name, df in dfs.items()}


def _read_index_table(spark: SparkSession, out_dir: str, sub: str) -> DataFrame:
    """Open ``<out_dir>/<sub>.parquet`` with the schema recorded in
    ``_meta.json`` (zero-job)."""
    import json as _json

    from pyspark.sql.types import StructType

    sj = _read_meta_with_token(out_dir)[0]["schemas"][sub]
    return spark.read.schema(StructType.fromJson(_json.loads(sj))).parquet(
        os.path.join(out_dir, f"{sub}.parquet")
    )


def appended_fraction(out_dir: str) -> float:
    """appended_rows / base_rows for a persisted index — the quantizer
    DRIFT signal: frozen-quantizer appends are encoded only as well as
    the stale codebook represents them, so recall decays as this ratio
    grows (measured in SCALE.md; tools/bench_ann_drift.py). 0.0 for a
    missing index or one that records no append counters."""
    meta = fsops.read_json(_meta_path(out_dir))
    if meta is None:
        return 0.0
    base = meta.get("base_rows") or 0
    return (meta.get("appended_rows") or 0) / base if base else 0.0


def needs_refit(out_dir: str, threshold: float = 0.3) -> bool:
    """Re-fit trigger: True once the appended fraction crosses
    ``threshold``. Callers that load-or-build (the registered ANN
    queries do) treat this like a failed ``index_is_current`` — rebuild
    with fresh quantizers, which resets the counters.

    Default 0.3, set FROM the measured decay curve
    (``tools/bench_ann_drift.py``, SCALE.md §Similarity): under
    worst-case covariate shift frozen-quantizer recall@5 runs 0.827 →
    0.787 → 0.740 at appended fractions 0 → 0.25 → 0.5 while a re-fit
    holds 0.75–0.83 — the frozen curve falls below the re-fit band's
    midpoint just past 0.25 and below its FLOOR by ~0.45, so 0.3 trips
    while the gap is opening (~0.04) instead of after it has opened
    (~0.09 at the old 0.5 default). Appends cheaper than a re-fit are
    still absorbed; a workload with mild drift can raise this."""
    return appended_fraction(out_dir) > threshold


def index_is_current(out_dir: str, fingerprint: str, params: dict) -> bool:
    """True iff a persisted index exists at ``out_dir`` and was built
    from sources matching ``fingerprint`` with the same ``params``."""
    return meta_is_current(fsops.read_json(_meta_path(out_dir)), fingerprint, params)


def meta_is_current(meta: dict | None, fingerprint: str, params: dict) -> bool:
    """:func:`index_is_current` on an already-read ``_meta.json`` (None
    when missing), for callers that use the same meta object further.
    A meta without :data:`META_FORMAT` is never current, so an index
    written by an older layout is rebuilt rather than read."""
    if meta is None or meta.get("format") != META_FORMAT:
        return False
    return meta.get("fingerprint") == fingerprint and meta.get("params") == params


def save_ivfpq_index(
    out_dir: str,
    centroids: DataFrame,
    assigned: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    fingerprint: str = "",
    params: dict | None = None,
    validate: bool = True,
) -> None:
    """Persist a built IVF-PQ index. ``assigned`` is (neighbor_id, cell)
    inverted lists; ``codes`` is (id, sub, code). The join runs once at
    build time so query jobs never touch the unpartitioned codes.

    INVARIANT: ``assigned`` must hold exactly ONE cell per vector
    (coarse assignment with n_best=1). Readers rebuild the codes table
    from the cells without a distinct — a multi-assign index would
    double-count ADC partial sums. ``validate=True`` checks this with
    one build-time aggregation (build-once cost, query-many safety)."""
    if validate:
        dup = (
            assigned.groupBy("neighbor_id").count().filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                "save_ivfpq_index: assigned has >1 cell for some vector; "
                "persisted indexes must be built with n_best=1"
            )
    centroids.write.mode("overwrite").parquet(os.path.join(out_dir, "centroids.parquet"))
    codebook.write.mode("overwrite").parquet(os.path.join(out_dir, "codebook.parquet"))
    cells = codes.withColumnRenamed(id_col, "neighbor_id").join(
        assigned, "neighbor_id"
    )
    write_partitioned(cells, os.path.join(out_dir, "cells.parquet"), ["cell"])
    # base_rows/appended_rows feed the drift guard (appended_fraction):
    # a rebuild resets both, which is exactly the re-fit semantics
    _write_meta(
        out_dir,
        fingerprint,
        params or {},
        extra={
            "base_rows": assigned.count(),
            "appended_rows": 0,
            "schemas": _schemas_entry(
                centroids=centroids, codebook=codebook, cells=cells
            ),
        },
    )


def save_flat_index(
    out_dir: str,
    codebook: DataFrame,
    codes: DataFrame,
    fingerprint: str = "",
    params: dict | None = None,
) -> None:
    """Persist a flat (non-IVF) quantization index: the metadata-scale
    codebook plus the per-vector codes table — the two halves a PQ/RQ
    ADC scan reads. Codes stay unpartitioned: a flat ADC scan reads all
    of them by design (that IS the compressed full scan)."""
    codebook.write.mode("overwrite").parquet(os.path.join(out_dir, "codebook.parquet"))
    codes.write.mode("overwrite").parquet(os.path.join(out_dir, "codes.parquet"))
    _write_meta(
        out_dir,
        fingerprint,
        params or {},
        extra={"schemas": _schemas_entry(codebook=codebook, codes=codes)},
    )


def load_flat_index(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """Load a flat PQ/RQ index persisted by ``save_flat_index``."""
    return {
        "codebook": _read_index_table(spark, out_dir, "codebook"),
        "codes": _read_index_table(spark, out_dir, "codes"),
    }


def save_ivf_index(
    out_dir: str,
    centroids: DataFrame,
    assigned: DataFrame,
    fingerprint: str = "",
    params: dict | None = None,
    validate: bool = True,
) -> None:
    """Persist the IVF half alone: coarse centroids plus the
    cell-partitioned (neighbor_id, cell) inverted lists — the index a
    plain-IVF probe reads (no codes table: plain IVF re-ranks true
    vectors). Same one-cell-per-vector invariant as
    ``save_ivfpq_index`` (readers take the lists as-is)."""
    if validate:
        dup = (
            assigned.groupBy("neighbor_id").count().filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                "save_ivf_index: assigned has >1 cell for some vector; "
                "persisted indexes must be built with n_best=1"
            )
    centroids.write.mode("overwrite").parquet(os.path.join(out_dir, "centroids.parquet"))
    write_partitioned(assigned, os.path.join(out_dir, "cells.parquet"), ["cell"])
    _write_meta(
        out_dir,
        fingerprint,
        params or {},
        extra={"schemas": _schemas_entry(centroids=centroids, cells=assigned)},
    )


def load_ivf_index(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """Load a persisted plain-IVF index. ``cells`` keeps its partition
    column; filter it on ``cell`` and the scan prunes directories."""
    return {
        "centroids": _read_index_table(spark, out_dir, "centroids"),
        "cells": _read_index_table(spark, out_dir, "cells"),
    }


def load_ivfpq_index(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """Load the persisted index. ``cells`` keeps its partition column;
    filter it on ``cell`` (e.g. by joining the probe list) and the scan
    prunes whole directories."""
    return {
        "centroids": _read_index_table(spark, out_dir, "centroids"),
        "codebook": _read_index_table(spark, out_dir, "codebook"),
        "cells": _read_index_table(spark, out_dir, "cells"),
    }


def ivf_pq_topk_from_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_top: int = 5,
    nprobe: int = 8,
    shortlist: int = 128,
    m: int = 4,
    dims: int = 64,
    exact: bool = False,
) -> DataFrame:
    """IVF-PQ query against a persisted index: probe cells are collected
    (a bounded |Q|·nprobe id list), pushed as a partition filter on the
    cells table (directory pruning), then the standard ADC + re-rank
    runs over only the probed partitions."""
    from python_cdc_spark.operators.pq import ivf_pq_topk
    from python_cdc_spark.operators.similarity import kmeans_assign

    idx = load_ivfpq_index(spark, index_dir)
    probes = kmeans_assign(
        queries, idx["centroids"], id_col, vec_col,
        exact=exact, n_best=nprobe, dims=dims,
    ).select(F.col(id_col).alias("query_id"), "cell")
    # the probe assignment feeds two consumers (the touched-cell collect
    # below and ivf_pq_topk's candidate join) — checkpoint the |Q|·nprobe
    # rows so the assignment job runs once, not once per consumer
    probes = probes.localCheckpoint()
    # bounded collect: |Q|·nprobe cell ids → a literal IN-list the scan
    # can prune directories with (PartitionFilters, not post-scan filter)
    touched = sorted({int(r["cell"]) for r in probes.select("cell").distinct().collect()})
    cells = idx["cells"].filter(F.col("cell").isin(touched))
    # no distinct on the rebuild: save_ivfpq_index validates the
    # one-cell-per-vector invariant, so (neighbor_id, sub, code) rows
    # appear exactly once per cell directory
    assigned = cells.select("neighbor_id", "cell").distinct()
    codes = cells.select(
        F.col("neighbor_id").alias(id_col), "sub", "code"
    )
    return ivf_pq_topk(
        corpus, idx["centroids"], assigned, codes, idx["codebook"], queries,
        id_col, vec_col, k_top=k_top, nprobe=nprobe, shortlist=shortlist,
        m=m, dims=dims, exact=exact, probes=probes,
    )


def ivf_rq_topk_from_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_top: int = 5,
    nprobe: int = 40,
    shortlist: int = 128,
    m: int = 8,
    dims: int = 64,
    exact: bool = False,
) -> DataFrame:
    """IVF-RQ query against a persisted index: same probe-collect /
    directory-prune shape as ``ivf_pq_topk_from_index``, but the cells
    carry two-stage residual codes (code1, code2) and the scan uses the
    RQ pair LUT."""
    from python_cdc_spark.operators.pq import ivf_rq_topk
    from python_cdc_spark.operators.similarity import kmeans_assign

    idx = load_ivfpq_index(spark, index_dir)
    probes = kmeans_assign(
        queries, idx["centroids"], id_col, vec_col,
        exact=exact, n_best=nprobe, dims=dims,
    ).select(F.col(id_col).alias("query_id"), "cell").localCheckpoint()
    touched = sorted({int(r["cell"]) for r in probes.select("cell").distinct().collect()})
    cells = idx["cells"].filter(F.col("cell").isin(touched))
    assigned = cells.select("neighbor_id", "cell").distinct()
    codes = cells.select(
        F.col("neighbor_id").alias(id_col), "sub", "code1", "code2"
    )
    return ivf_rq_topk(
        corpus, idx["centroids"], assigned, codes, idx["codebook"], queries,
        id_col, vec_col, k_top=k_top, nprobe=nprobe, shortlist=shortlist,
        m=m, dims=dims, exact=exact, probes=probes,
    )


def append_to_ivfpq_index(
    spark: SparkSession,
    out_dir: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kind: str = "pq",
    m: int = 4,
    dims: int = 64,
    exact: bool = False,
    validate: bool = True,
) -> int:
    """Fold new vectors into a persisted index WITHOUT refitting — the
    frozen-quantizer append every production ANN system does between
    periodic retrains: assign each new vector to its existing coarse
    cell, encode it with the existing codebook, and append the rows
    into the Hive-partitioned cells layout (only the touched cell
    directories gain files; probes keep pruning exactly as before).

    Quantizer drift is the retrain trigger, not this function's
    problem: appended vectors are quantized as well as the frozen
    codebook represents them, which test_ivfpq_index_append pins by
    comparing against a one-shot build with the SAME quantizers.

    ``validate`` guards the one-cell-per-vector invariant the readers
    rely on: appending an id that already exists would double-count its
    ADC partial sums. The check is one semi-join over the index ids; a
    deployment appending constantly would keep an id bloom filter
    instead. Returns the number of vectors appended. The stored
    fingerprint is extended so ``index_is_current`` against the
    original source honestly reports stale."""
    from python_cdc_spark.operators.pq import pq_encode, rq_encode
    from python_cdc_spark.operators.similarity import kmeans_assign

    idx = load_ivfpq_index(spark, out_dir)
    if validate:
        clash = (
            new_vectors.select(F.col(id_col).alias("neighbor_id"))
            .join(idx["cells"].select("neighbor_id").distinct(), "neighbor_id", "left_semi")
            .limit(1)
            .count()
        )
        if clash:
            raise ValueError(
                "append_to_ivfpq_index: some ids already exist in the index"
            )
    assigned = kmeans_assign(
        new_vectors, idx["centroids"], id_col, vec_col, exact=exact, dims=dims
    ).select(F.col(id_col).alias("neighbor_id"), "cell")
    if kind == "pq":
        codes = pq_encode(
            new_vectors, idx["codebook"], id_col, vec_col, m=m, dims=dims, exact=exact
        )
    elif kind == "rq":
        codes = rq_encode(
            new_vectors, idx["codebook"], id_col, vec_col, m=m, dims=dims, exact=exact
        )
    else:
        raise ValueError(f"unknown code kind: {kind}")
    cells_new = codes.withColumnRenamed(id_col, "neighbor_id").join(
        assigned, "neighbor_id"
    )
    n = cells_new.select("neighbor_id").distinct().count()
    (
        cluster(cells_new, ["cell"])
        .write.mode("append")
        .partitionBy("cell")
        .parquet(os.path.join(out_dir, "cells.parquet"))
    )
    # conditional meta publish (fsops.cas_publish): a racing
    # append/fold loses at the swap instead of silently dropping the
    # winner's fingerprint lineage
    meta, tok = _read_meta_with_token(out_dir)
    meta["fingerprint"] = f"{meta['fingerprint']}+append:{n}"
    meta["appended_rows"] = (meta.get("appended_rows") or 0) + n
    fsops.cas_publish(_meta_path(out_dir), meta, tok)
    return n


# ---------------------------------------------------------------------------
# CDC-maintained inverted lists — the index counterpart of
# plans/rollup.refresh_cdc (r6): fold I/U/D row-image deltas into the
# persisted cell-partitioned layout touching ONLY the affected cell
# directories, with the frozen coarse quantizer doing the placement and
# the drift guard (appended_fraction/needs_refit above) escalating to a
# full re-fit when frozen-quantizer placement has decayed.
# ---------------------------------------------------------------------------


def build_ivf_lists(
    spark: SparkSession,
    out_dir: str,
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    payload: dict | None = None,
    fingerprint: str = "",
    params: dict | None = None,
    exact: bool = True,
    dims: int = 64,
) -> int:
    """Build (or rebuild) persisted IVF inverted lists: assign every
    corpus vector to its coarse cell (broadcast k-row centroids, one
    hash-agg argmax — no corpus shuffle beyond the partitioned write)
    and write ``cells.parquet`` Hive-partitioned BY CELL plus the
    centroids sidecar the CDC fold re-reads. ``payload`` maps extra
    column names to Column expressions over the assigned rows (the row
    image the index carries besides membership). Returns corpus size."""
    from python_cdc_spark.operators.similarity import kmeans_assign

    fsops.makedirs(out_dir)
    centroids.write.mode("overwrite").parquet(
        os.path.join(out_dir, "centroids.parquet")
    )
    assigned = kmeans_assign(
        corpus.select(id_col, vec_col), centroids, id_col, vec_col,
        exact=exact, dims=dims,
    )
    rows = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        "cell",
        *[expr.alias(name) for name, expr in (payload or {}).items()],
    )
    write_partitioned(rows, os.path.join(out_dir, "cells.parquet"), ["cell"])
    n = corpus.count()
    _write_meta(
        out_dir,
        fingerprint,
        params or {},
        extra={
            "base_rows": n,
            "appended_rows": 0,
            "maintained": False,
            "schemas": _schemas_entry(centroids=centroids, cells=rows),
        },
    )
    return n


def maintain_ivf_lists_cdc(
    spark: SparkSession,
    out_dir: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str = "op",
    payload: dict | None = None,
    exact: bool = True,
    dims: int = 64,
) -> dict:
    """Fold a CDC delta (``op`` ∈ I/U/D, id, row-image vector) into
    persisted inverted lists, O(touched cells) like the apply store:

    - placement: I/U vectors are assigned to cells via the BROADCAST
      frozen coarse quantizer (the centroids sidecar) — one metadata
      join, no corpus work;
    - victim location: U/D ids must be evicted from whatever cell holds
      them today. Absent an id→cell sidecar this is a column-pruned
      scan of (neighbor_id, cell) — two columns of the index — against
      the broadcast victim ids; a deployment folding deltas constantly
      would keep that sidecar (or a Bloom gate, queries/sketches.py
      cdc_bloom_delta_prune) to skip even the pruned scan;
    - rewrite: ONLY touched cell directories (victims' old cells ∪
      upserts' new cells) are re-materialized — survivors of the
      touched cells minus victims plus the newly placed rows, written
      via dynamic partition overwrite so untouched directories keep
      their files byte-for-byte. A cell emptied by deletes is removed.

    The drift counters advance by the upsert count, so the
    ``needs_refit`` escalation (frozen placement decays under covariate
    shift — measured curve in SCALE.md) keeps working across folds.
    Returns fold stats for receipts: touched/total cells, row counts.

    Two actions besides the checkpoints: ONE aggregate over the tagged
    union of victims' old cells, placed rows and victims answers the
    touched set and both counts, and the write observes the cells the
    rewrite leaves non-empty.
    """
    cells_path = os.path.join(out_dir, "cells.parquet")
    centroids = _read_index_table(spark, out_dir, "centroids")
    idx = _read_index_table(spark, out_dir, "cells")

    victims = (
        delta.filter(F.col(op_col).isin("U", "D"))
        .select(F.col(id_col).alias("neighbor_id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    upserts = delta.filter(F.col(op_col).isin("I", "U")).select(id_col, vec_col)

    from python_cdc_spark.operators.similarity import kmeans_assign

    placed = kmeans_assign(
        upserts, centroids, id_col, vec_col, exact=exact, dims=dims
    )
    new_rows = placed.select(
        F.col(id_col).alias("neighbor_id"),
        "cell",
        *[expr.alias(name) for name, expr in (payload or {}).items()],
    ).localCheckpoint(eager=False)

    # touched = victims' current cells (column-pruned scan joined with
    # the broadcast delta ids) ∪ upserts' target cells; the tag column
    # says which side a row came from, so the same aggregate counts the
    # placed rows and the victims. Delta-bounded (≤ |delta| cell ids),
    # never corpus-scale.
    side = F.col("__side")
    probe = (
        idx.select("neighbor_id", "cell")
        .join(F.broadcast(victims), "neighbor_id", "left_semi")
        .select("cell", F.lit("old").alias("__side"))
        .unionByName(new_rows.select("cell", F.lit("new").alias("__side")))
        .unionByName(
            victims.select(F.lit(None).cast("int").alias("cell"), F.lit("victim").alias("__side"))
        )
        .agg(
            F.collect_set("cell").alias("touched"),
            F.count(F.when(side == "new", 1)).alias("n_upserts"),
            F.count(F.when(side == "victim", 1)).alias("n_victims"),
        )
        .first()
    )
    touched = sorted(int(c) for c in probe["touched"])
    n_upserts, n_victims = int(probe["n_upserts"]), int(probe["n_victims"])
    survivors = (
        idx.filter(F.col("cell").isin(touched))
        .join(F.broadcast(victims), "neighbor_id", "left_anti")
    )
    # dynamic overwrite replaces exactly the partitions present in the
    # written frame, at commit, after every task read its survivors; set
    # per write, so an overwrite another thread runs in this session
    # keeps the session's mode. The cells it writes are observed in the
    # write tasks (above the shuffle, so an empty rewrite still reports).
    written = Observation()
    (
        cluster(survivors.unionByName(new_rows), ["cell"], len(touched))
        .observe(written, F.collect_set("cell").alias("cells"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(cells_path)
    )
    present = {int(c) for c in written.get["cells"]}
    # a touched cell with zero survivors and zero arrivals vanishes from
    # the dynamic write — drop its directory so readers don't resurrect
    # pre-fold rows
    for c in set(touched) - present:
        fsops.remove_tree(os.path.join(cells_path, f"cell={c}"))

    # the rewrite replaced files under a path this session may already
    # have a cached file listing for — invalidate it, or a post-fold
    # reader can FAILED_READ_FILE on the overwritten partitions
    spark.catalog.refreshByPath(cells_path)
    total_cells = sum(
        1 for d in fsops.list_dir(cells_path) if d.startswith("cell=")
    )
    # conditional meta publish — same CAS discipline as the append path
    meta, tok = _read_meta_with_token(out_dir)
    meta["maintained"] = True
    meta["fingerprint"] = f"{meta['fingerprint']}+cdc:{n_upserts}/{n_victims}"
    meta["appended_rows"] = (meta.get("appended_rows") or 0) + n_upserts
    fsops.cas_publish(_meta_path(out_dir), meta, tok)
    return {
        "touched_cells": len(touched),
        "total_cells": total_cells,
        "n_upserts": n_upserts,
        "n_victims": n_victims,
    }


def ivf_lists_need_rebuild(out_dir: str, fingerprint: str, params: dict) -> bool:
    """True when the persisted lists can't serve as the pristine BASE
    for a CDC fold: missing/stale (different sources or params) or
    already maintained (a prior fold mutated them — the gate re-derives
    base + delta deterministically each run, so a maintained tree must
    rebuild from scratch first)."""
    meta = fsops.read_json(_meta_path(out_dir))
    return not meta_is_current(meta, fingerprint, params) or bool(
        meta.get("maintained")
    )
