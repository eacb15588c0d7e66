"""Streaming rollup maintenance: a continuously-fresh materialized cube.

Wires Structured Streaming's micro-batches to
``plans/rollup.RollupCatalog.refresh``: every batch of new fact rows
folds into the cube's partials (sum/count by SUM, min/max by MIN/MAX,
HLL registers by MAX), so dashboard queries — including approximate
COUNT DISTINCT via the sketch measure — answer from a table that is
always current and always metadata-scale. This is the streaming
materialized-view shape: per-batch work is O(delta + cube), and a
``rewrite`` between batches never blocks on the fold thanks to the
catalog's versioned storage.

Restart semantics are inherited from the catalog, not bolted on: the
version pointer and the folded-batch-id replay guard commit together
in one atomic ``os.replace`` (``plans/rollup.py``), so a crash between
the fold and the streaming checkpoint replays the batch as a no-op —
the cube can never double-count. Complements
``streaming/ivm_stream.py`` (signed-delta IVM over the crash-atomic
state store, which also handles updates/deletes for sum/count): this
path is insert-only facts but adds min/max and sketch measures.

Single writer per rollup name; ``base_dir`` must be a LOCAL path
(same constraint as the catalog).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_cdc_spark import fsops
from python_cdc_spark.plans.rollup import RollupCatalog
from python_cdc_spark.streaming.apply_stream import StreamingApplyChanges
from python_cdc_spark.streaming.sink import attach


class StreamingRollupMaintenance:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        name: str,
        dims: dict[str, str],
        measures: dict[str, tuple[str, str]],
    ):
        self.catalog = RollupCatalog(spark, base_dir)
        self.name = name
        self.dims = dims
        self.measures = measures

    def bootstrap(self, src: DataFrame, fingerprint: str = "") -> None:
        """Seed the cube from the existing fact table (batch build)."""
        self.catalog.define(
            self.name, src, self.dims, self.measures, fingerprint=fingerprint
        )

    def fold_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        if batch.isEmpty():
            return
        self.catalog.refresh(self.name, batch, batch_id=batch_id)

    def rewrite(self, dims, measures, predicate=None, predicate_dims=None):
        """Query the live cube (delegates to the catalog's rewrite)."""
        return self.catalog.rewrite(dims, measures, predicate, predicate_dims)

    def start(self, stream: DataFrame, checkpoint: str, available_now: bool = True):
        """Attach to a streaming DataFrame of fact rows."""
        return attach(stream, self.fold_batch, checkpoint, available_now)


class StreamingCdcRollupMaintenance(StreamingApplyChanges):
    """A materialized cube maintained by a LIVE I/U/D CDC stream — the
    flagship integration of the engine's two halves: the apply-changes
    state machine (its CDC identity) feeds signed row-image deltas into
    ``RollupCatalog.refresh_cdc`` (the warehouse layer), so the cube
    tracks the replicated table through inserts, updates, TOAST
    carry-forward, and deletes, at O(batch + cube + affected-groups)
    per micro-batch.

    Per batch: the pre-batch state restricted to the batch's keys is
    materialized (the ``minus`` images), the batch merges into the
    bucketed state store (inherited), the post-batch images of the same
    keys become ``plus``, and the catalog folds the signed delta —
    algebraically for sum/count cubes, by affected-group rebuild from
    current state when min/max/hll measures are present.

    Crash convergence across the TWO commit points (state store swap,
    cube meta swap): a tiny pre-batch pin ``{batch_id: state_version}``
    is journaled (atomic ``os.replace``) BEFORE the state merge, so a
    replay whose merge already committed still derives ``minus`` from
    the TRUE pre-batch state via the store's ``read_at`` time travel —
    without the pin, a replayed batch would see before == after, fold
    nothing, and silently leave the cube stale forever. A replay whose
    cube fold already committed is a no-op via the catalog's
    folded-batch-id guard. ``retention`` is raised so replayed merges
    cannot vacuum the pinned version's files.

    Single writer; both paths must be LOCAL (os-primitive markers +
    Spark parquet, the package-wide constraint).
    """

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        cube_dir: str,
        cube_name: str,
        dims: dict[str, str],
        measures: dict[str, tuple[str, str]],
        typed_columns: dict[str, str],
        key_col: str = "key",
        n_buckets: int = 64,
    ) -> None:
        super().__init__(spark, state_path, key_col, n_buckets, retention=4)
        os.makedirs(state_path, exist_ok=True)  # pin journal home
        self.catalog = RollupCatalog(spark, cube_dir)
        self.cube_name = cube_name
        self.dims = dims
        self.measures = measures
        self.typed_columns = typed_columns
        self._needs_state = any(
            k in ("min", "max", "hll") for k, _ in measures.values()
        )

    # -- typed projection of the state rows ----------------------------

    def _typed(self, state: DataFrame) -> DataFrame:
        cols = [F.col(self.key_col)]
        for name, dtype in self.typed_columns.items():
            cols.append(F.col("values").getItem(name).cast(dtype).alias(name))
        return state.select(*cols)

    def typed_state(self) -> DataFrame:
        return self._typed(self.current_state())

    def init_cube(self, fingerprint: str = "") -> None:
        """Seed the cube from the CURRENT applied state (empty is fine:
        the first batches then build it up delta by delta)."""
        self.catalog.define(
            self.cube_name,
            self.typed_state(),
            self.dims,
            self.measures,
            fingerprint=fingerprint,
            force=True,
        )

    # -- pre-batch version pin -----------------------------------------

    @property
    def _pin_path(self) -> str:
        return os.path.join(self.state_path, "_cube_prebatch.json")

    def _pins(self) -> dict:
        return fsops.read_json(self._pin_path, {})

    def _write_pins(self, pins: dict) -> None:
        fsops.publish_json(self._pin_path, pins)

    # -- merge + fold ---------------------------------------------------

    def merge_batch(self, batch: DataFrame, batch_id: int | None = None) -> list[int]:
        if batch.isEmpty():
            return []
        keys = batch.select(self.key_col).distinct()
        pins = self._pins()
        pin_key = str(batch_id) if batch_id is not None else None
        if pin_key is not None and pin_key in pins:
            # replay past the state commit: time-travel to the true
            # pre-batch state for the minus images (version 0 = the
            # store was empty before this batch)
            v_pin = pins[pin_key]
            pre = self.store.read_at(v_pin) if v_pin > 0 else None
            pre_live = (
                pre.filter(F.col("values").isNotNull()).drop("bucket")
                if pre is not None
                else self._raw_state().limit(0)
            )
        else:
            if pin_key is not None:
                pins[pin_key] = self.store.version
                self._write_pins(pins)
            pre_live = self.current_state()
        before = self._typed(
            pre_live.join(keys, self.key_col, "left_semi")
        ).localCheckpoint(eager=True)  # batch-key-sized; survives vacuum

        touched = super().merge_batch(batch, batch_id)

        after = self._typed(
            self.current_state().join(keys, self.key_col, "left_semi")
        ).localCheckpoint(eager=True)
        # typed_state() IS the complete post-apply state: declare it so
        # the engine may take the rebuild plan for sketch measures
        # instead of warning about fold-vs-rebuild economics
        self.catalog.refresh_cdc(
            self.cube_name,
            after,
            before,
            state=self.typed_state() if self._needs_state else None,
            batch_id=batch_id,
            state_complete=self._needs_state,
        )
        if pin_key is not None and pin_key in pins:
            del pins[pin_key]
            self._write_pins(pins)
        return touched

    def rewrite(self, dims, measures, predicate=None, predicate_dims=None):
        """Query the live cube (delegates to the catalog's rewrite)."""
        return self.catalog.rewrite(dims, measures, predicate, predicate_dims)
