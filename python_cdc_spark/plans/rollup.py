"""Materialized rollups with subsumption-based query rewrite.

The warehouse MV capability: ``RollupCatalog.define`` materializes a
partial aggregate (the "rollup") once; ``rewrite`` answers any
aggregate query whose dimensions are a SUBSET of a rollup's dimensions
and whose measures are re-aggregable from it — reading the rollup's
few-thousand-row table instead of the fact table. At 100 TB this is
the difference between a dashboard query scanning 10^12 rows and one
scanning 10^3: the rollup is built in one pass, maintained
incrementally (``refresh`` below for insert-only deltas; ``cdc/ivm.py``
for signed-delta sum/count refreshes), and every covered query after
that is metadata-scale.

Correctness of the rewrite (exact, not approximate):

- ``sum`` measures are STORED AS decimal(30,10) partials. Decimal
  addition is exact and associative, so re-aggregating group partials
  equals aggregating the raw rows in any order — the rewrite is
  bit-identical to the direct plan after the final round+cast, the
  same argument ``queries/helpers.dec_sum`` makes for parallel
  aggregation.
- ``count`` re-aggregates by SUM, ``min``/``max`` by MIN/MAX — all
  decomposable. ``avg`` is intentionally absent: derive it as
  sum/count at the call site (it does not re-aggregate).
- ``hll`` measures store an HLL register table (one row per
  dims × bucket): registers fold by MAX when dims roll away —
  max-of-maxes is exact, so COUNT DISTINCT becomes decomposable and
  the cube path yields the IDENTICAL register table to a direct build
  over the raw rows.
- Predicates may only reference rollup dimensions (checked): a filter
  on a non-dimension column would need the raw rows.

Storage is VERSIONED for crash atomicity (the pattern proven in
``streaming/sketch_stream.py``): every table lives under
``<name>/v<N>/``, and ``_meta.json`` — replaced atomically via
``os.replace`` — carries the version pointer AND the folded-batch-id
replay guard together. A crash on either side of the commit point
leaves a refresh wholly unapplied (replay refolds from the old
version) or wholly applied (replay is skipped); a reader resolving
through the pointer never sees a half-written directory. The previous
version survives one generation. Single writer; ``base_dir`` must be
a LOCAL path (os-primitive markers + Spark parquet through Hadoop FS,
same constraint as the other index stores).

Staleness: the same stat-fingerprint discipline as the ANN index store
(``operators/ann_index.py``) — ``define`` is load-or-build, so
registered queries call it unconditionally and only the first call per
(source, params) pays the build; ``refresh`` extends the fingerprint
so a later ``define`` against fresh sources rebuilds.
"""

from __future__ import annotations

import functools
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_cdc_spark import fsops
from python_cdc_spark.io import write_tables
from python_cdc_spark.operators.ann_index import META_FORMAT, index_is_current

_DEC = "decimal(30,10)"
_KINDS = ("sum", "count", "min", "max", "hll")
# bumped when the on-disk layout changes: participates in the params
# key, so caches written by an older layout rebuild instead of
# misresolving (v3: hidden __n support column in the scalar table,
# required by the signed-delta CDC refresh to drop net-dead groups;
# v4: meta carries the ann_index ``format`` stamp and always ``schemas``)
_LAYOUT = 4
# hidden per-group support count: lets refresh_cdc drop groups whose
# row support nets to zero without consulting any caller measure
_SUPPORT = "__n"
# refresh_cdc collects the delta's affected-dims set when it fits under
# this cap and matches with literal predicates (pushed to the scan, no
# per-action broadcast rebuild); above it, broadcast joins take over
_AFF_LITERAL_CAP = 256
# HLL sketch-measure geometry (matches queries/sketches.py conventions:
# mix32 hash, bin-length rho, dyadic 2^-r sum, shared alpha expression)
_HLL_P = 8
_HLL_M = 1 << _HLL_P


def _hll_registers(src: DataFrame, dims: dict[str, str], expr: str) -> DataFrame:
    """Per-dims HLL register table over a bigint expression: one row per
    (dims, bucket) with the max leading-zero rank — the max-mergeable
    representation that makes COUNT DISTINCT decomposable in a cube."""
    from python_cdc_spark.queries.sketches import _mix32

    names = list(dims)
    h = src.select(
        *[F.expr(e).alias(a) for a, e in dims.items()],
        _mix32(F.expr(expr)).alias("h"),
    )
    rest = 32 - _HLL_P
    w = F.shiftright(F.col("h"), _HLL_P)
    return (
        h.select(
            *names,
            (F.col("h") % _HLL_M).alias("bucket"),
            F.when(w == 0, F.lit(rest + 1))
            .otherwise(F.lit(rest + 1) - F.length(F.bin(w)))
            .alias("rho"),
        )
        .groupBy(*names, "bucket")
        .agg(F.max("rho").cast("int").alias("r"))
    )


def hll_estimate_from_registers(regs: DataFrame, dims: list[str]) -> DataFrame:
    """Raw HLL estimate per dims group from a register table — the same
    estimator expression as queries/sketches.py, so a DuckDB oracle
    replaying the register math matches bit-for-bit."""
    m = float(_HLL_M)
    agg = regs.groupBy(*dims).agg(
        F.count(F.lit(1)).cast("long").alias("_b"),
        F.sum(
            F.lit(1.0) / F.expr("shiftleft(cast(1 as bigint), r)")
        ).alias("_s"),
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(m))
    est = alpha * F.lit(m) * F.lit(m) / (
        F.col("_s") + (F.lit(m) - F.col("_b"))
    )
    return agg.select(*dims, est.alias("_hll_est"))


class RollupCatalog:
    """A directory of materialized rollups + the rewrite that uses them."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        fsops.makedirs(base_dir)

    # -- meta / paths ---------------------------------------------------

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.base_dir, name, "_meta.json")

    def _meta(self, name: str) -> Optional[dict]:
        return fsops.read_json(self._meta_path(name))

    def _meta_with_token(self, name: str) -> tuple[Optional[dict], object]:
        """Meta plus identity token: writers read through this so their
        ``_commit_meta`` is conditional (fsops.cas_publish)."""
        return fsops.read_json_with_token(self._meta_path(name))

    def _live_meta_with_token(self, name: str) -> tuple[dict, object]:
        """``_meta_with_token`` for a rollup that must exist in the
        current format (refreshes): LookupError when missing,
        ValueError (fsops.check_format) for an older layout."""
        meta, tok = self._meta_with_token(name)
        if meta is None:
            raise LookupError(f"no rollup named {name!r}")
        return fsops.check_format(meta, META_FORMAT, self._meta_path(name)), tok

    def _commit_meta(self, name: str, meta: dict, expected_token: object) -> None:
        """Commit point — CAS on the token from ``_meta_with_token``:
        two racing refreshes resolve to one winner, the loser raising
        ConcurrentWriterError with its staged version dir left for GC."""
        fsops.cas_publish(self._meta_path(name), meta, expected_token)

    def _vdir(self, name: str, version: int) -> str:
        return os.path.join(self.base_dir, name, f"v{version}")

    @staticmethod
    def _params(dims: dict, measures: dict) -> dict:
        return {
            "layout": _LAYOUT,
            "dims": dict(dims),
            "measures": {a: list(v) for a, v in measures.items()},
        }

    @staticmethod
    def _measure_aggs(measures: dict) -> tuple[list, list]:
        """(delta-build aggs over raw rows, merge aggs over partials)
        for the scalar measures; hll measures are handled separately."""
        build, merge = [], []
        for alias, (kind, expr) in measures.items():
            c = F.expr(expr)
            if kind == "sum":
                build.append(F.sum(c.cast(_DEC)).alias(alias))
                merge.append(F.sum(alias).alias(alias))
            elif kind == "count":
                build.append(F.count(c).cast("long").alias(alias))
                merge.append(F.sum(alias).cast("long").alias(alias))
            elif kind == "min":
                build.append(F.min(c).alias(alias))
                merge.append(F.min(alias).alias(alias))
            elif kind == "max":
                build.append(F.max(c).alias(alias))
                merge.append(F.max(alias).alias(alias))
        return build, merge

    def _build_tables(
        self,
        src: DataFrame,
        dims: dict[str, str],
        measures: dict[str, tuple[str, str]],
    ) -> tuple[DataFrame, dict[str, DataFrame]]:
        """Cube tables (scalar partials incl. the hidden support count,
        hll register tables) from ``src`` raw rows.

        With EXACTLY ONE hll measure the whole cube comes from a single
        scan: pre-aggregate at (dims, hll bucket) granularity — every
        scalar kind (decimal sum, count, min/max, support) re-aggregates
        exactly over the bucket sub-groups, and the pre-aggregate IS the
        register table. That halves the dominant cost of both a full
        build and a state-path refresh (two scans → one). With zero or several
        hll measures the per-table plans run as before (several hll
        measures hash different expressions — no shared grouping)."""
        from python_cdc_spark.queries.sketches import _mix32

        scalar = {a: v for a, v in measures.items() if v[0] != "hll"}
        hll = {a: e for a, (k, e) in measures.items() if k == "hll"}
        dim_cols = [F.expr(e).alias(a) for a, e in dims.items()]
        build, merge = self._measure_aggs(scalar)
        build.append(F.count(F.lit(1)).cast("long").alias(_SUPPORT))
        merge.append(F.sum(_SUPPORT).cast("long").alias(_SUPPORT))

        if len(hll) != 1:
            scalar_df = src.groupBy(*dim_cols).agg(*build)
            hll_dfs = {
                a: _hll_registers(src, dims, e) for a, e in hll.items()
            }
            return scalar_df, hll_dfs

        (alias, expr), = hll.items()
        rest = 32 - _HLL_P
        h = _mix32(F.expr(expr))
        w = F.shiftright(h, _HLL_P)
        rho = F.when(w == 0, F.lit(rest + 1)).otherwise(
            F.lit(rest + 1) - F.length(F.bin(w))
        )
        # A lazy checkpoint: the version's fused write (one job for both
        # tables) computes it once and both tables read it. Without one,
        # column pruning would split it into two differently-pruned
        # aggregates, each with its own shuffle.
        pre = (
            src.groupBy(*dim_cols, (h % _HLL_M).alias("bucket"))
            .agg(*build, F.max(rho).cast("int").alias("r"))
            .localCheckpoint(eager=False)
        )
        scalar_df = pre.groupBy(*list(dims)).agg(*merge)
        regs = pre.select(*list(dims), "bucket", "r")
        return scalar_df, {alias: regs}

    def _write_version(
        self,
        name: str,
        version: int,
        scalar_df: Optional[DataFrame],
        hll_dfs: dict[str, DataFrame],
    ) -> tuple[int, dict[str, str]]:
        """Stage the version's tables into a writer-private dir, then
        claim the first free ``v*`` slot at-or-past the hint via
        non-clobbering rename (racing writers never overwrite each
        other's staged or committed versions). Returns the CLAIMED
        version — the meta commit must record this, not the hint —
        plus {table: schema json}, recorded in meta so every later
        read passes an explicit schema (skipping the one-job parquet
        footer inference Spark runs per schemaless read — r13
        job-floor pass; measured 1 job per spark.read.parquet call)."""
        out = fsops.staging(os.path.join(self.base_dir, name))
        tables = {"data": scalar_df} if scalar_df is not None else {}
        tables.update((f"hll_{a}", df) for a, df in hll_dfs.items())
        schemas = {sub: df.schema.json() for sub, df in tables.items()}
        # The version's tables go out in ONE Spark write (io.write_tables):
        # they share the cube's upstream plan (the (dims, bucket)
        # pre-aggregate of a one-hll cube), so one job runs it once where
        # per-table writes ran it per table, and pay one write job floor.
        # The version is not live until _commit_meta swaps the pointer, so
        # a failed write leaves only an orphaned dir for the next
        # attempt's rmtree.
        write_tables(tables, out)
        return fsops.claim(out, functools.partial(self._vdir, name), version), schemas

    def _read_version_table(self, name: str, meta: dict, sub: str) -> DataFrame:
        """Read one of a version's tables with the schema recorded at
        write time (zero-job open)."""
        import json as _json

        from pyspark.sql.types import StructType

        return self.spark.read.schema(
            StructType.fromJson(_json.loads(meta["schemas"][sub]))
        ).parquet(os.path.join(self._vdir(name, meta["version"]), sub))

    def _gc(self, name: str, keep_from: int) -> None:
        """Drop version dirs older than ``keep_from`` (the previous
        version survives one generation for concurrent readers)."""
        root = os.path.join(self.base_dir, name)
        live = (self._meta(name) or {}).get("version")
        for entry in fsops.list_dir(root):
            if entry.startswith("v") and entry[1:].isdigit():
                # never drop the committed version, whatever its number:
                # with claimed (non-contiguous) slots the live version
                # can sit below a loser's higher-numbered orphan
                if int(entry[1:]) < keep_from and int(entry[1:]) != live:
                    fsops.remove_tree(os.path.join(root, entry))

    # -- build ----------------------------------------------------------

    def define(
        self,
        name: str,
        src: DataFrame,
        dims: dict[str, str],
        measures: dict[str, tuple[str, str]],
        fingerprint: str = "",
        force: bool = False,
    ) -> str:
        """Materialize ``groupBy(dims)`` over ``src``: ``dims`` maps
        alias -> SQL expr (identity for plain columns), ``measures``
        maps alias -> (kind, sql_expr). Load-or-build keyed on
        (fingerprint, dims, measures); returns the rollup directory."""
        for alias, (kind, _) in measures.items():
            if kind not in _KINDS:
                raise ValueError(f"unsupported measure kind {kind!r}")
        out = os.path.join(self.base_dir, name)
        params = self._params(dims, measures)
        if not force and index_is_current(out, fingerprint, params):
            return out
        fsops.makedirs(out)
        old, tok = self._meta_with_token(name)
        version = (old.get("version", 0) + 1) if old else 1
        # the hidden support count is always materialized (even for
        # hll-only cubes): group liveness under deletes needs it
        scalar_df, hll_dfs = self._build_tables(
            src, dims, {a: tuple(v) for a, v in measures.items()}
        )
        version, schemas = self._write_version(name, version, scalar_df, hll_dfs)
        self._commit_meta(
            name,
            {
                "format": META_FORMAT,
                "fingerprint": fingerprint,
                "params": params,
                "version": version,
                "folded": [],
                "schemas": schemas,
            },
            tok,
        )
        self._gc(name, version - 1)
        return out

    # -- incremental maintenance ---------------------------------------

    def refresh(
        self, name: str, delta: DataFrame, batch_id: Optional[int] = None
    ) -> None:
        """Fold an INSERT-ONLY delta into the cube: every supported
        measure is decomposable for appends (sum/count by SUM over
        partials, min/max by MIN/MAX, hll registers by MAX), so the
        refresh aggregates the delta and re-combines it with the stored
        partials — O(delta + cube), never a fact-table rescan. (Deletes
        would break min/max/hll; route those through a rebuild, or use
        cdc/ivm.py's signed-delta aggregates for sum/count-only cubes.)

        Crash-atomic and replay-safe: the merged tables land in a NEW
        version directory, then the version pointer and the
        folded-batch-id guard commit together in one ``os.replace`` —
        a replayed ``batch_id`` is a no-op, and a crash mid-refresh
        leaves the previous version intact. The fingerprint is extended
        so ``index_is_current`` no longer matches the raw source — a
        later ``define`` against a fresh source fingerprint rebuilds."""
        meta, tok = self._live_meta_with_token(name)
        if batch_id is not None and batch_id in meta["folded"]:
            return  # checkpoint replay after a crash past the commit
        params = meta["params"]
        dims = params["dims"]
        dim_cols = [F.expr(e).alias(a) for a, e in dims.items()]
        measures = {a: tuple(v) for a, v in params["measures"].items()}
        scalar = {a: v for a, v in measures.items() if v[0] != "hll"}

        build, merge = self._measure_aggs(scalar)
        build.append(F.count(F.lit(1)).cast("long").alias(_SUPPORT))
        merge.append(F.sum(_SUPPORT).cast("long").alias(_SUPPORT))
        d_cube = delta.groupBy(*dim_cols).agg(*build)
        old_cube = self._read_version_table(name, meta, "data")
        cols = list(dims) + list(scalar) + [_SUPPORT]
        scalar_df = (
            old_cube.select(cols)
            .unionByName(d_cube.select(cols))
            .groupBy(*dims)
            .agg(*merge)
        )
        hll_dfs = {}
        for alias, (kind, expr) in measures.items():
            if kind != "hll":
                continue
            d_regs = _hll_registers(delta, dims, expr)
            old_regs = self._read_version_table(name, meta, f"hll_{alias}")
            cols = list(dims) + ["bucket", "r"]
            hll_dfs[alias] = (
                old_regs.select(cols)
                .unionByName(d_regs.select(cols))
                .groupBy(*dims, "bucket")
                .agg(F.max("r").cast("int").alias("r"))
            )
        self._publish_refresh(name, meta, tok, scalar_df, hll_dfs, batch_id)

    def _read_affected_partitions(
        self,
        state_path: str,
        dim: str,
        affected: DataFrame,
        values: Optional[list] = None,
        schema=None,
    ) -> tuple[DataFrame, list[str]]:
        """Read ONLY the state partitions the delta's dims touch.

        ``state_path`` must be hive-partitioned by a column named
        ``dim`` whose value EQUALS that dim's value for every row in
        the partition (the dim-derived-column layout). Affected values
        are collected (O(distinct dim values in the delta) — metadata
        scale) and turned into explicit subdirectory reads, so the I/O
        bound is enumerated, not inferred: the returned file list is
        exactly the affected partitions' files. A value with no
        directory means the group has no current state (net-dead) —
        skipped. Values are matched by ``str(v)`` against the hive dir
        name: keep partition dims storage-safe (ints, plain strings);
        NULL maps to ``__HIVE_DEFAULT_PARTITION__``. ``values`` skips
        the collect when the caller already holds the affected rows.
        ``schema`` (incl. the partition column — its values still come
        from the directory names) skips the one-job parquet footer
        inference Spark otherwise runs per schemaless read."""
        vals = (
            values
            if values is not None
            else [r[0] for r in affected.select(dim).distinct().collect()]
        )
        dirs = []
        for v in vals:
            part = "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)
            d = os.path.join(state_path, f"{dim}={part}")
            if os.path.isdir(d):
                dirs.append(d)
        if not dirs:
            if schema is None:
                schema = self.spark.read.parquet(state_path).schema
            return self.spark.createDataFrame([], schema), []
        reader = self.spark.read.option("basePath", state_path)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(*dirs)
        return df, sorted(df.inputFiles())

    def refresh_cdc(
        self,
        name: str,
        plus: DataFrame,
        minus: DataFrame,
        state: Optional[DataFrame] = None,
        batch_id: Optional[int] = None,
        state_path: Optional[str] = None,
        state_partition_dim: Optional[str] = None,
        state_complete: bool = False,
        state_schema=None,
    ) -> None:
        """Fold a SIGNED I/U/D delta into the cube — the CDC-maintained
        materialized view. ``plus`` holds inserted row images (the new
        image of every INSERT/UPDATE), ``minus`` the retracted ones (the
        pre-change image of every UPDATE/DELETE); both are state-row
        shaped (``cdc/ivm.signed_state_deltas`` derives them from the
        before/after states the apply pipeline already maintains).

        Two plans, chosen by the cube's measure kinds:

        - **Algebraic** (only ``sum``/``count`` measures): deltas
          telescope, so the refresh is ``old ∪ agg(plus) ∪ -agg(minus)``
          re-merged — O(delta + cube), no state read, exact because sum
          partials are decimals and counts are integers. Groups whose
          hidden support count nets to zero are dropped.
        - **Affected-group rebuild** (any ``min``/``max``/``hll``
          measure): those aggregates are not delete-decomposable, so the
          groups whose dims appear in the delta are recomputed from the
          CURRENT post-apply state and every untouched group keeps its
          stored partials. Net-dead groups vanish (no state rows).

        How the rebuild path gets its state — three modes, in order of
        preference at scale:

        1. ``state_path`` + ``state_partition_dim`` (ENGINE-ENFORCED
           I/O pruning): the state lives on disk hive-partitioned by a
           dim-derived column; the engine derives the affected
           partition values from the delta and reads ONLY those
           subdirectories (``_read_affected_partitions`` — the file
           list is enumerated, so the bound is provable; exposed as
           ``last_refresh_input_files`` after the call). This is the
           mode that wins at 100 TB: per-fold I/O is
           O(affected partitions + cube), never O(total state).
           Measured ≥2x vs rebuild at 60M rows with a localized delta
           (BENCH_INCREMENTAL.json ``cdc_rollup_partitioned_60m``).
           ``state_schema`` (the state rows' StructType, incl. the
           partition column) skips the per-call parquet footer
           inference on that read — callers that just wrote the state
           hold its schema already.
        2. ``state`` pre-pruned by the CALLER to any superset of the
           affected groups' rows — the round-5/6 contract, still
           honored (the broadcast semi-join re-prunes to exact rows).
        3. ``state`` = the complete unpartitioned current state. The
           semi-join prunes ROWS, not I/O, so the fold scans everything
           a plain rebuild would scan, with more overhead (measured
           0.30x vs rebuild at 60M — BENCH_INCREMENTAL
           ``cdc_rollup_runs``). Pass ``state_complete=True`` to let
           the engine take the measured-faster plan (a direct rebuild
           from ``state``, no old-cube read); with the default
           ``state_complete=False`` the engine cannot distinguish a
           complete state from a caller-pruned one, keeps the fold,
           and emits a RuntimeWarning naming the economics.

        ``last_refresh_plan`` records which plan ran ("algebraic",
        "partition_pruned_fold", "affected_fold", "full_rebuild").
        Crash atomicity, replay (``batch_id``), fingerprint extension,
        and version GC are identical to ``refresh``."""
        meta, tok = self._live_meta_with_token(name)
        if batch_id is not None and batch_id in meta["folded"]:
            return  # checkpoint replay after a crash past the commit
        params = meta["params"]
        dims = params["dims"]
        dim_cols = [F.expr(e).alias(a) for a, e in dims.items()]
        measures = {a: tuple(v) for a, v in params["measures"].items()}
        scalar = {a: v for a, v in measures.items() if v[0] != "hll"}
        signed_only = all(k in ("sum", "count") for k, _ in measures.values())
        if not signed_only and state is None and state_path is None:
            raise ValueError(
                "cube has min/max/hll measures; refresh_cdc requires "
                "`state` (post-apply current state) or `state_path` + "
                "`state_partition_dim` (partitioned state on disk) to "
                "rebuild the affected groups"
            )
        if state_path is not None and state_partition_dim not in dims:
            raise ValueError(
                f"state_partition_dim {state_partition_dim!r} must name "
                f"a cube dimension (have {sorted(dims)})"
            )
        self.last_refresh_input_files: list[str] = []
        old_data = self._read_version_table(name, meta, "data")
        build, merge = self._measure_aggs(scalar)
        build.append(F.count(F.lit(1)).cast("long").alias(_SUPPORT))
        merge.append(F.sum(_SUPPORT).cast("long").alias(_SUPPORT))
        cols = list(dims) + list(scalar) + [_SUPPORT]
        hll_dfs: dict[str, DataFrame] = {}

        if signed_only:
            self.last_refresh_plan = "algebraic"
            p_cube = plus.groupBy(*dim_cols).agg(*build)
            m_cube = minus.groupBy(*dim_cols).agg(*build)
            neg = m_cube.select(
                *list(dims),
                *[(-F.col(a)).alias(a) for a in scalar],
                (-F.col(_SUPPORT)).cast("long").alias(_SUPPORT),
            )
            scalar_df = (
                old_data.select(cols)
                .unionByName(p_cube.select(cols))
                .unionByName(neg.select(cols))
                .groupBy(*dims)
                .agg(*merge)
                .filter(F.col(_SUPPORT) > 0)
            )
        else:
            # dims images touched by the delta, from either side
            affected = (
                plus.select(*dim_cols)
                .unionByName(minus.select(*dim_cols))
                .distinct()
            )
            if state_complete and state_path is None:
                # complete unpartitioned state: a direct rebuild is one
                # scan with no old-cube read — the measured-faster plan
                self.last_refresh_plan = "full_rebuild"
                scalar_df, hll_dfs = self._build_tables(state, dims, measures)
                self._publish_refresh(name, meta, tok, scalar_df, hll_dfs, batch_id)
                return
            if state_path is None:
                self.last_refresh_plan = "affected_fold"
                import warnings

                warnings.warn(
                    "refresh_cdc sketch-measure fold over a plain `state` "
                    "DataFrame prunes rows, not I/O: if `state` is the "
                    "complete unpartitioned state this scan costs what a "
                    "rebuild costs with more overhead (measured 0.30x at "
                    "60M rows) — pass state_complete=True for the rebuild "
                    "plan, or store state partitioned by a dim and use "
                    "state_path/state_partition_dim for true partition "
                    "pruning. A caller-pruned superset state is fine.",
                    RuntimeWarning,
                    stacklevel=2,
                )
            # All affected/pruned/untouched matching is NULL-SAFE:
            # groupBy treats NULL as a group, so a delta touching a
            # NULL-dim group must match that group here too — plain
            # equality would leave its stale partial in `untouched`
            # forever (ADVICE r6 #3).
            #
            # The affected set is cube-bounded (≤ groups in the cube,
            # metadata-scale by design), so collect it ONCE and match
            # with LITERAL predicates instead of broadcast joins: every
            # downstream action (scalar write, each hll write) would
            # otherwise re-run the plus∪minus distinct and rebuild the
            # broadcast — measured ~0.5s of fixed cost PER ACTION at
            # 60M, which is what ate the partition-pruning win. A
            # literal predicate also reaches the parquet scan as a
            # pushed filter (free partition pruning on a dim-derived
            # layout even in plain-state mode). Above the cap the
            # distributed broadcast-join path runs instead.
            aff_rows = affected.limit(_AFF_LITERAL_CAP + 1).collect()
            aff_fields = {f.name: f.dataType for f in affected.schema.fields}

            if state_path is not None:
                vals = (
                    sorted(
                        {row[state_partition_dim] for row in aff_rows},
                        key=lambda v: (v is None, str(v)),
                    )
                    if len(aff_rows) <= _AFF_LITERAL_CAP
                    else None  # huge delta: fall back to a full distinct
                )
                state, files = self._read_affected_partitions(
                    state_path, state_partition_dim, affected, values=vals,
                    schema=state_schema,
                )
                self.last_refresh_input_files = files
                self.last_refresh_plan = "partition_pruned_fold"

            if len(aff_rows) <= _AFF_LITERAL_CAP:

                def _aff_pred(side_col):
                    pred = F.lit(False)
                    for row in aff_rows:
                        c = None
                        for a in dims:
                            lit = F.lit(row[a]).cast(aff_fields[a])
                            e = side_col(a).eqNullSafe(lit)
                            c = e if c is None else (c & e)
                        pred = pred | c
                    return pred

                pruned = state.select(
                    "*",
                    *[F.expr(e).alias(f"__dim_{a}") for a, e in dims.items()],
                ).filter(_aff_pred(lambda a: F.col(f"__dim_{a}")))
                untouched = old_data.filter(
                    ~_aff_pred(lambda a: old_data[a])
                )

                def _untouched_regs(old_regs):
                    return old_regs.filter(~_aff_pred(lambda a: old_regs[a]))

            else:
                aff_b = F.broadcast(
                    affected.select(
                        *[F.col(a).alias(f"__aff_{a}") for a in dims]
                    )
                )

                def _aff_cond(side_col):
                    cond = None
                    for a in dims:
                        c = side_col(a).eqNullSafe(F.col(f"__aff_{a}"))
                        cond = c if cond is None else (cond & c)
                    return cond

                pruned = state.select(
                    "*",
                    *[F.expr(e).alias(f"__dim_{a}") for a, e in dims.items()],
                ).join(
                    aff_b,
                    _aff_cond(lambda a: F.col(f"__dim_{a}")),
                    "left_semi",
                )
                untouched = old_data.join(
                    aff_b, _aff_cond(lambda a: old_data[a]), "left_anti"
                )

                def _untouched_regs(old_regs):
                    return old_regs.join(
                        aff_b,
                        _aff_cond(lambda a: old_regs[a]),
                        "left_anti",
                    )

            # one-scan rebuild of the affected groups (shared (dims,
            # bucket) pre-aggregate when the cube has one hll measure,
            # run once by the version's fused write)
            rebuilt, reb_hll = self._build_tables(pruned, dims, measures)
            scalar_df = untouched.select(cols).unionByName(
                rebuilt.select(cols)
            )
            reg_cols = list(dims) + ["bucket", "r"]
            for alias, regs in reb_hll.items():
                old_regs = self._read_version_table(name, meta, f"hll_{alias}")
                hll_dfs[alias] = _untouched_regs(old_regs).select(
                    reg_cols
                ).unionByName(regs.select(reg_cols))

        self._publish_refresh(name, meta, tok, scalar_df, hll_dfs, batch_id)

    def _publish_refresh(
        self,
        name: str,
        meta: dict,
        tok: object,
        scalar_df: Optional[DataFrame],
        hll_dfs: dict[str, DataFrame],
        batch_id: Optional[int],
    ) -> None:
        """Every refresh path's commit: claim the refreshed tables as a
        new version, CAS the meta, then drop versions below the previous
        one. The fingerprint is marked ``+delta`` once (idempotent: the
        point is to stop matching the raw source fingerprint, not to
        count folds) and ``batch_id`` joins the bounded replay-guard
        tail (Spark only replays recent batches)."""
        cur = meta["version"]
        meta["version"], meta["schemas"] = self._write_version(
            name, cur + 1, scalar_df, hll_dfs
        )
        if not meta["fingerprint"].endswith("+delta"):
            meta["fingerprint"] += "+delta"
        if batch_id is not None:
            meta["folded"] = fsops.record_fold(meta["folded"], batch_id)
        self._commit_meta(name, meta, tok)
        self._gc(name, cur)

    # -- rewrite --------------------------------------------------------

    def _catalog(self) -> dict[str, dict]:
        entries = {}
        for name in sorted(fsops.list_dir(self.base_dir)):
            meta = self._meta(name)
            if meta and meta.get("params", {}).get("layout") == _LAYOUT:
                entries[name] = meta
        return entries

    def rewrite(
        self,
        dims: list[str],
        measures: list[str],
        predicate: Optional[str] = None,
        predicate_dims: Optional[list[str]] = None,
    ) -> DataFrame:
        """Answer groupBy(dims).agg(measures) from the smallest covering
        rollup. ``predicate`` (SQL over dims) is applied BEFORE the
        re-aggregation and may only reference ``predicate_dims``
        (each must be a rollup dimension — checked). Raises LookupError
        when no rollup covers the request."""
        if not measures:
            raise ValueError("rewrite requires at least one measure")
        need_dims = set(dims) | set(predicate_dims or [])
        best: Optional[tuple[int, str, dict]] = None
        for name, meta in self._catalog().items():
            params = meta["params"]
            have_dims = set(params["dims"])
            have_meas = params["measures"]
            if not need_dims <= have_dims:
                continue
            if not set(measures) <= set(have_meas):
                continue
            key = (len(have_dims), name)
            if best is None or key < (best[0], best[1]):
                best = (len(have_dims), name, meta)
        if best is None:
            raise LookupError(
                f"no rollup covers dims={sorted(need_dims)} "
                f"measures={sorted(measures)}"
            )
        _, name, meta = best
        params = meta["params"]
        scalar = [m for m in measures if params["measures"][m][0] != "hll"]
        hll = [m for m in measures if params["measures"][m][0] == "hll"]
        # At the rollup's own grain every stored table already holds one
        # row per group (one per group and hll bucket for registers) —
        # every write path groups or unions disjoint group sets — so the
        # re-aggregation would be an identity and its shuffle is skipped.
        # Stored partials already carry the re-aggregated types.
        exact = set(dims) == set(params["dims"])

        def checked_filter(frame: DataFrame) -> DataFrame:
            # Analysis-time guard on the predicate SQL itself (not just
            # the caller-declared predicate_dims list): resolve it
            # against an EMPTY local relation carrying only the dims
            # schema — a plain dims projection is not enough, because
            # Spark's analyzer resolves filter attributes through the
            # child plan, so a measure reference would silently filter
            # stored partials and return wrong aggregates.
            probe = self.spark.createDataFrame(
                [], frame.select(*params["dims"]).schema
            )
            probe.filter(predicate).schema
            return frame.filter(predicate)

        parts: list[DataFrame] = []
        if scalar:
            df = self._read_version_table(name, meta, "data")
            if predicate:
                df = checked_filter(df)
            aggs = []
            for alias in scalar:
                kind = params["measures"][alias][0]
                col = F.col(alias)
                if kind == "sum":
                    aggs.append(F.sum(col).alias(alias))  # decimal: exact
                elif kind == "count":
                    aggs.append(F.sum(col).cast("long").alias(alias))
                elif kind == "min":
                    aggs.append(F.min(col).alias(alias))
                else:
                    aggs.append(F.max(col).alias(alias))
            parts.append(
                df.select(*dims, *scalar) if exact else df.groupBy(*dims).agg(*aggs)
            )
        for alias in hll:
            regs = self._read_version_table(name, meta, f"hll_{alias}")
            if predicate:
                regs = checked_filter(regs)
            # fold away the dims being rolled up: registers merge by MAX
            folded = regs if exact else regs.groupBy(*dims, "bucket").agg(
                F.max("r").cast("int").alias("r")
            )
            parts.append(
                hll_estimate_from_registers(folded, dims).withColumnRenamed(
                    "_hll_est", alias
                )
            )
        out = parts[0]
        for p in parts[1:]:
            if not dims:
                out = out.crossJoin(p)
                continue
            # null-safe: NULL is a group (groupBy produced it on both
            # sides), so the scalar×hll zip must not drop it
            right = p.select(
                *[F.col(a).alias(f"__r_{a}") for a in dims],
                *[c for c in p.columns if c not in dims],
            )
            cond = None
            for a in dims:
                c = out[a].eqNullSafe(F.col(f"__r_{a}"))
                cond = c if cond is None else (cond & c)
            out = out.join(right, cond).drop(*[f"__r_{a}" for a in dims])
        # keep the caller's measure order
        return out.select(*dims, *measures)


def finalize_sum_double(df: DataFrame, aliases: list[str]) -> DataFrame:
    """Round the exact decimal sum partials to the registry's output
    convention (round 4, double) — apply after the LAST re-aggregation."""
    out = df
    for a in aliases:
        out = out.withColumn(a, F.round(F.col(a), 4).cast("double"))
    return out


def vacuum_plan(path: str, retain_last: int) -> tuple[list[str], set[str]]:
    """``(removable, live)`` for the catalog at ``path``, both relative
    to it. Each rollup keeps its current version and ``retain_last``
    versions below it; every other ``v<N>`` dir is removable, and so is
    staging past the age gate (``fsops.is_stale_staging``). The rollup
    entry of ``maintenance.vacuum``."""
    removable, live = [], set()
    for name in fsops.list_dir(path):
        meta = fsops.read_json(os.path.join(path, name, "_meta.json"))
        if meta is None:
            continue
        cur = int(meta["version"])
        keep = {f"v{v}" for v in range(max(1, cur - retain_last), cur + 1)}
        live |= {os.path.join(name, k) for k in keep}
        root = os.path.join(path, name)
        removable += [
            os.path.join(name, e)
            for e in fsops.list_dir(root)
            if (e.startswith("v") and e[1:].isdigit() and e not in keep)
            or fsops.is_stale_staging(root, e)
        ]
    return removable, live
