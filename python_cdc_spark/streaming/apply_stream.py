"""Streaming apply-changes: continuous CDC materialization (E18 + E24).

Replaces the reference's print-only workers (``cdc_consumer.py:43-74``)
with a real incremental state sink. Per micro-batch, ``foreachBatch``
merges the batch's events into a persistent keyed state table; the
state is the fold of every layer committed so far:

    state = apply_changes(base-as-events ∪ run_1-as-events ∪ … ∪ run_k-as-events)
    run_{k+1} = apply_changes(batch-events)

Exactly-once story (the reference acks BEFORE processing → at-most-once,
``postgre_cdc_consumer.py:98-99``; we upgrade): the streaming checkpoint
replays an uncommitted batch after a crash, and the merge is idempotent
— replaying the same events cannot change the folded state (per-key
max-lsn semantics), so replay converges: a batch replayed after its
run was committed adds a duplicate run, which folds to the same rows. Each state write commits
atomically through :class:`~python_cdc_spark.streaming.state_store.
BucketedStateStore` (immutable version dirs + manifest swap) — a crash
mid-write leaves the previous state intact; a transactional table
format (Delta/Iceberg MERGE) remains the managed-production upgrade.

Scale design: state is hash-bucketed on key into ``n_buckets``
partitions and kept merge-on-read (``state_store`` module docstring):
a micro-batch folds ONLY its own events and commits the result as one
delta run per bucket it touches, so a commit is O(batch), not
O(touched_state). Reads fold a bucket's base and runs through the same
fold. Compaction is amortised: once a bucket's runs hold more rows than
its base (or it has more than ten runs), the next commit also folds
that bucket's layers with its batch into a new base, so a base is
rewritten only after about as many rows arrived in runs as it holds.
The fold groups on ``(bucket, key)`` and, on the array plan, starts
from the store's own bucket clustering, so fold and commit share one
shuffle.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from python_cdc_spark import fsops
from python_cdc_spark.cdc.apply import (
    apply_changes_with_tombstones,
    apply_changes_with_tombstones_multi,
    state_as_events,
)
from python_cdc_spark.streaming.sink import attach
from python_cdc_spark.streaming.state_store import BucketedStateStore

#: table-identity columns carried through the merge when the feed has
#: them — they scope TRUNCATE expansion (and the state fold) per table
_AUX_COLS = ("schema", "table")

#: Wire micro-batches of at least this many rows are range-repartitioned
#: on ``lsn`` to executor parallelism before the Python frame decode: a
#: file-source batch has only file-count partitions, so a big batch
#: would otherwise decode nearly serially. The count comes from the
#: batch's one pre-decode aggregate, so the gate costs nothing extra.
#: Below it the shuffle's fixed cost beats the decode win, and
#: latency-sized batches stay zero-copy. A range (not round-robin)
#: split keeps each partition one LSN-contiguous run, which the
#: in-decode origin resolution needs. Widening pays at scale: a
#: 400k-frame, 7.8 MB single-file batch through ``merge_wire_batch`` on
#: 4 cores took a median 6.3 s widened (4 decode tasks) and 9.4 s narrow
#: (2 tasks).
_WIDE_DECODE_ROWS = 200_000

#: on-disk format of the registry and origin carry pins
#: (``{"format", "batch_id", "before", "after"}``)
_PIN_FORMAT = 1

#: Per-batch fold plan choice. The streaming merge is the case the
#: single-shuffle array plan was built for: prior state contributes
#: exactly ONE event per key and a batch a bounded burst, so per-key
#: arrays stay small and the fold is ~1.7x faster than the argmax
#: plan's (BENCH_APPLY_PROFILE.json). The probe's per-bucket histogram
#: is a free proxy for a hot key, since a hot key's events all hash to
#: one bucket: a batch whose largest bucket holds over
#: ``_AUTO_SKEW_RATIO`` x the mean of the others AND over
#: ``_AUTO_SKEW_MIN_ROWS`` rows folds with the skew-safe argmax plan.
_AUTO_SKEW_RATIO = 4.0
_AUTO_SKEW_MIN_ROWS = 100_000


class BatchShape(NamedTuple):
    """What one scan of a batch already told its caller: its row count,
    whether it may hold a TRUNCATE, and its LSN range (``None`` bounds
    for an empty batch)."""

    rows: int
    truncates: bool
    lo: int | None
    hi: int | None


def _max(*values):
    return max((v for v in values if v is not None), default=None)


class StreamingApplyChanges:
    """Continuous apply-changes into a bucket-partitioned parquet state.

    Parameters mirror the batch operator: events carry
    ``CDC_EVENT_SCHEMA`` plus an extracted ``key`` column.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        key_col: str = "key",
        n_buckets: int = 64,
        retention: int = 2,
    ) -> None:
        self.spark = spark
        self.state_path = state_path
        self.key_col = key_col
        self.n_buckets = n_buckets
        #: plan the most recent merge actually used (observability;
        #: chosen per batch, see _AUTO_SKEW_RATIO)
        self.last_fold_plan: str | None = None
        # versions of history read_at() can time-travel to (storage
        # cost: superseded bucket files for that many commits)
        self.retention = retention
        self.store = BucketedStateStore(spark, state_path, fold=self._fold_layers)
        #: what the most recent merge did (observability, served by
        #: ``latency_report``): fold plan, commit kind, the deepest
        #: bucket's run count and the events the fold took in
        self.last_batch: dict | None = None
        #: rolling capture→applied latency samples (see
        #: ``record_latency`` / ``latency_report``) — populated by the
        #: wire path where frames carry capture timestamps
        self._latency: list[dict] = []

    # -- end-to-end latency ----------------------------------------------

    def record_latency(
        self, batch_id: int | None, max_capture_ts, n_rows: int
    ) -> None:
        """Record one micro-batch's capture→applied lag: the wall-clock
        gap between the NEWEST frame's capture timestamp and the moment
        the merged state became durable. Kept as a bounded rolling
        window (driver memory: O(32))."""
        import datetime as _dt
        import time as _time

        if max_capture_ts is None:
            return
        if isinstance(max_capture_ts, _dt.datetime):
            ts = max_capture_ts.timestamp()
        else:
            ts = float(max_capture_ts)
        self._latency.append(
            {
                "batch_id": batch_id,
                "n_rows": int(n_rows),
                "applied_at": round(_time.time(), 3),
                "max_capture_ts": round(ts, 3),
                "capture_to_apply_sec": round(_time.time() - ts, 3),
            }
        )
        del self._latency[:-32]

    def latency_report(self) -> dict:
        """Summary for ``/metrics`` (R16 analog: WAL lag expressed as
        seconds-behind-capture instead of retained bytes).

        Besides the lag quantiles, serves the two numbers an operator
        needs to judge SATURATION live: ``applied_eps_window`` (events
        applied per second over the rolling window — the sustained
        throughput actually achieved) and ``lag_trend_sec_per_batch``
        (first-to-last lag slope across the window; near zero when the
        apply keeps up, persistently positive when the ingest rate
        exceeds the max sustainable rate and the backlog compounds).
        ``saturated`` flags a compounding trend — above 0.2 s of new
        backlog per batch across a full window, i.e. each batch falls
        measurably further behind; small positive slopes are ambient
        jitter, as the sweep's first calibration run showed (a +0.15
        slope at a rate whose p50 was LOWER than the slower phase's).
        ``perfbench/run.py --workload wire`` measures this lag
        (``latency_p50_s``, ``latency.p95_s``) under an open loop at a
        fixed offered rate.

        ``last_fold_plan`` and ``last_batch`` describe the most recent
        merge: its fold plan, commit kind (``base``, ``run`` or
        ``compaction``), the deepest bucket's run count after it, the
        events its fold took in and, on the wire path, the data frames
        (I/U/D/T) they were decoded from — read from the batch's own
        pre-decode aggregate and the commit's Observations, no extra
        job."""
        last = {} if self.last_batch is None else {
            "last_fold_plan": self.last_batch["fold_plan"],
            "last_batch": self.last_batch,
        }
        if not self._latency:
            return {"batches_measured": 0, **last}
        lags = sorted(s["capture_to_apply_sec"] for s in self._latency)
        seq = [s["capture_to_apply_sec"] for s in self._latency]
        span = self._latency[-1]["applied_at"] - self._latency[0]["applied_at"]
        events = sum(s["n_rows"] for s in self._latency)
        trend = (seq[-1] - seq[0]) / max(1, len(seq) - 1)
        return {
            "batches_measured": len(self._latency),
            "last": self._latency[-1],
            "capture_to_apply_sec_p50": lags[len(lags) // 2],
            "capture_to_apply_sec_p95": lags[min(len(lags) - 1, int(len(lags) * 0.95))],
            "capture_to_apply_sec_max": lags[-1],
            "applied_eps_window": round(events / span, 1) if span > 0 else None,
            "lag_trend_sec_per_batch": round(trend, 4),
            "saturated": len(seq) >= 8 and trend > 0.2,
            **last,
        }

    # -- state table ------------------------------------------------------

    def _bucket(self, key: F.Column) -> F.Column:
        return F.pmod(F.xxhash64(key.cast("string")), F.lit(self.n_buckets))

    def current_state(self) -> DataFrame:
        """The materialized table (key, values map, last_lsn) — live rows
        only; tombstones are internal. A multi-table state (feed carried
        ``schema``/``table``) keeps those identity columns."""
        raw = self._raw_state()
        aux = [c for c in _AUX_COLS if c in raw.columns]
        return raw.filter(F.col("values").isNotNull()).select(
            *aux, self.key_col, "values", "last_lsn"
        )

    def _raw_state(self) -> DataFrame:
        state = self.store.read()
        if state is not None:
            return state.drop("bucket")
        return self.spark.createDataFrame(
            [],
            f"{self.key_col} string, values map<string,string>, "
            "last_lsn bigint, del_lsn bigint",
        )

    # -- initial snapshot --------------------------------------------------

    def bootstrap(
        self,
        snapshot: DataFrame,
        snapshot_lsn: int,
        schema: str | None = None,
        table: str | None = None,
    ) -> None:
        """Initial-snapshot load: seed the state table from an existing
        source table BEFORE attaching the change stream — the
        snapshot-then-stream pattern (the reference has no equivalent;
        its consumers start from WAL only, so a pre-existing table never
        reaches the sink). Every snapshot row becomes a live state row
        at ``snapshot_lsn``; when the stream attaches, events with
        ``lsn > snapshot_lsn`` win the per-key fold and events at or
        below it (late WAL from before the snapshot point) lose to the
        snapshot image — the max-lsn fold gives exactly the right
        overlap semantics with no filtering step.

        ``snapshot`` carries ``key_col`` plus the row columns; all
        columns (key included, matching the decode path's new_values)
        are string-cast into the values map. Call once on an empty
        state; the bootstrap is one commit, so it is crash-atomic (same
        manifest swap as every other commit).

        For a stream whose events carry ``schema``/``table`` (decoded
        wire frames), pass both here so the seeded state is in the same
        multi-table mode — call once per snapshotted table (repeat
        calls are allowed only in multi-table mode, for tables not yet
        seeded)."""
        if (schema is None) != (table is None):
            raise ValueError("pass schema and table together (or neither)")
        live = self.store.live_buckets()
        if live:
            if schema is None or "table" not in self.store.schema().fieldNames():
                raise ValueError("bootstrap requires an empty state store")
            # any layer row of the table means it was seeded; the raw
            # layers answer that without the read fold's shuffle
            already = self.store.read_layers(live).filter(
                (F.col("schema") == schema) & (F.col("table") == table)
            ).head(1)
            if already:
                raise ValueError(
                    f"state already holds rows for {schema}.{table}"
                )
        aux_cols = (
            [F.lit(schema).alias("schema"), F.lit(table).alias("table")]
            if schema is not None
            else []
        )
        values = F.map_from_arrays(
            F.array(*[F.lit(c) for c in snapshot.columns]),
            F.array(*[F.col(c).cast("string") for c in snapshot.columns]),
        )
        state = (
            snapshot.select(
                *aux_cols,
                F.col(self.key_col).cast("string").alias(self.key_col),
                values.alias("values"),
                F.lit(snapshot_lsn).cast("long").alias("last_lsn"),
                F.lit(None).cast("long").alias("del_lsn"),
            )
            .withColumn("bucket", self._bucket(F.col(self.key_col)))
        )
        # a run commit: the first seed lands as every bucket's base, a
        # repeat multi-table seed as one run over the tables seeded so
        # far (its keys are new, so the read fold just unions them)
        high = self.store.meta().get("after")
        self.store.commit(
            state, list(range(self.n_buckets)), compact=[],
            meta={"batch_id": None, "before": high, "after": _max(high, snapshot_lsn)},
        )

    # -- merge ------------------------------------------------------------

    def merge_batch(
        self,
        batch: DataFrame,
        batch_id: int | None = None,
        *,
        shape: BatchShape | None = None,
    ) -> list[int]:
        """Merge one (micro-)batch of events into the state table.
        Returns the bucket ids whose state changed (for derived-state
        maintainers layered on top, e.g. StreamingIncrementalAgg).

        The batch is folded ON ITS OWN and committed as one delta run
        per bucket it touches (``state_store`` module docstring): no
        prior state is read or rewritten, so a commit costs O(batch).
        The buckets whose runs crossed the store's read-amplification
        bound are compacted by the same commit: their base and runs,
        re-encoded as events, ride through the batch's one fold and are
        written back as a new base.

        A run is exact because its events all come after every event
        the state already holds: then folding the batch alone and
        folding its result after the older layers equals folding the
        events in LSN order. The store records the highest LSN
        committed; a batch reaching at or below it (late WAL, the
        overlap of a snapshot and the stream) compacts every live
        bucket instead, which folds it with the whole prior state as
        before. A replay of the last committed batch id is checked
        against the mark from before its first attempt, so the replay
        of a run commits the same run again, and the duplicate folds
        to the same rows.

        ``schema``/``table`` columns, when the feed carries both, are
        kept through the merge and persisted in the state ("multi-table
        mode"): the fold keys on (schema, table, key) and TRUNCATE
        expansion stays scoped to the truncated table. A feed must be
        consistent about the mode — mixing a multi-table feed into
        single-table state (or vice versa) raises, because the two key
        spaces cannot be reconciled after the fact.

        A batch containing a TRUNCATE compacts EVERY live bucket: the
        truncate event is keyless (it hashes to one arbitrary bucket),
        but it must tombstone matching keys in all buckets — a run
        restricted to the batch's own keys would silently leave
        truncated rows alive elsewhere. Cost is O(total state) for that
        batch, which is also the semantic floor: a truncate genuinely
        touches every key of its table.

        A caller that has already scanned the batch (the wire path's
        pre-decode aggregate) passes what it learned as ``shape``; a
        TRUNCATE false positive or a too-wide LSN range only costs a
        compaction. Without it, or for a batch of at least
        ``_AUTO_SKEW_MIN_ROWS`` rows (the only size the skew check can
        fire at), one probe job answers the same questions plus the
        bucket histogram the skew check reads."""
        aux = [c for c in _AUX_COLS if c in batch.columns]
        if len(aux) != len(_AUX_COLS):
            aux = []  # need BOTH columns for per-table semantics
        batch = batch.select(
            "lsn", "operation", "new_values", *aux, F.col(self.key_col)
        ).withColumn("bucket", self._bucket(F.col(self.key_col)))
        if shape is not None and shape.rows == 0:
            return []
        skewed = False
        if shape is None or shape.rows >= _AUTO_SKEW_MIN_ROWS:
            # The keyed batch is read by two actions: the probe and the
            # fold+commit write. Materialise it once (lazily: the
            # probe's job fills it) so the write reads those blocks
            # instead of re-running the batch's upstream lineage.
            batch = batch.localCheckpoint(eager=False)
            probe = (
                batch.groupBy("bucket")
                .agg(
                    F.max(
                        F.when(F.col("operation") == "TRUNCATE", 1).otherwise(0)
                    ).alias("__t"),
                    F.count(F.lit(1)).alias("__n"),
                    F.min("lsn").alias("__lo"),
                    F.max("lsn").alias("__hi"),
                )
                .collect()
            )
            if not probe:
                return []
            counts = [r["__n"] for r in probe]
            shape = BatchShape(
                sum(counts),
                any(r["__t"] for r in probe),
                min(r["__lo"] for r in probe),
                max(r["__hi"] for r in probe),
            )
            mx = max(counts)
            # compare the hottest bucket against the MEAN OF THE OTHERS
            # (max-vs-overall-mean is bounded by the occupied-bucket
            # count, so it can never fire when a burst lands in one of
            # two buckets)
            others = (sum(counts) - mx) / max(1, len(counts) - 1)
            skewed = (
                mx > _AUTO_SKEW_RATIO * max(others, 1.0)
                and mx > _AUTO_SKEW_MIN_ROWS
            )
        plan = "argmax" if skewed else "array_fold"
        self.last_fold_plan = plan

        schema = self.store.schema()
        if schema is not None:
            state_aux = [c for c in _AUX_COLS if c in schema.fieldNames()]
            if bool(aux) != bool(state_aux):
                raise ValueError(
                    "feed/state table-identity mismatch: the batch "
                    f"{'carries' if aux else 'lacks'} schema/table columns "
                    f"but the existing state {'lacks' if aux else 'carries'} "
                    "them — a stream must be consistently single-table or "
                    "multi-table (bootstrap with schema/table for a "
                    "multi-table stream)"
                )

        # the LSN high-water mark the batch started from, pinned per
        # batch id like the wire carries: a replay is checked against
        # the mark from before its first attempt
        mark = self.store.meta() or {"batch_id": None, "before": None, "after": None}
        high = _pinned(mark, batch_id, mark["after"])
        in_order = shape.lo is None or high is None or shape.lo > high
        compact = (
            self.store.overdue()
            if in_order and not shape.truncates
            else self.store.live_buckets()
        )
        folded = Observation()
        events = batch.observe(folded, F.count(F.lit(1)).alias("n"))
        prior = self.store.read_layers(compact)
        if prior is not None:
            # the compacted buckets' layers ride through the same fold
            # as the batch; tombstoned fold: every previously-present
            # key yields a row, so a compacted bucket can never silently
            # vanish from the commit
            events = events.unionByName(self._layer_events(prior))
        everywhere = list(range(self.n_buckets))
        if plan == "array_fold":
            # Cluster the fold input exactly as the commit will: the
            # fold's groupBy(bucket, key) then needs no exchange, and
            # Spark drops the commit's own repartition (the partitioning
            # already matches), so the fold runs inside the write tasks.
            # The argmax plan is left alone — its per-column shuffles are
            # its hot-key protection — and the commit clusters its output
            # instead.
            events = self.store.cluster(events, everywhere)
        new_state = self._fold(aux)(
            events, self.key_col,
            plan=plan, has_truncates=shape.truncates, bucket_col="bucket",
        )
        # The store writes a NEW immutable version dir while the fold's
        # lineage reads the old ones (no self-overwrite hazard), then
        # the manifest swap commits atomically; vacuum reclaims
        # superseded and orphaned versions.
        self.store.commit(
            new_state, everywhere, compact=compact,
            meta={"batch_id": batch_id, "before": high, "after": _max(high, shape.hi)},
        )
        self.store.vacuum(retain_last=self.retention)
        self.last_batch = {
            "fold_plan": plan,
            "commit_kind": self.store.last_commit["kind"],
            "max_bucket_runs": self.store.last_commit["max_runs"],
            "events_folded": int(folded.get["n"]),
        }
        return self.store.last_commit["buckets"]

    @staticmethod
    def _fold(aux: list[str]):
        return (
            apply_changes_with_tombstones_multi
            if aux
            else apply_changes_with_tombstones
        )

    def _layer_events(self, layers: DataFrame) -> DataFrame:
        """State rows of the store's layers re-encoded as events, bucket
        column included."""
        return state_as_events(layers.drop("bucket"), self.key_col).withColumn(
            "bucket", self._bucket(F.col(self.key_col))
        )

    def _fold_layers(self, layers: DataFrame) -> DataFrame:
        """The store's read fold: the rows of a bucket's base and runs
        re-encoded as events and folded by LSN into one row per key —
        the merge's own fold, so a layered read and a compaction agree
        by construction. Layers hold state rows only (no TRUNCATE)."""
        aux = [c for c in _AUX_COLS if c in layers.columns]
        return self._fold(aux)(
            self._layer_events(layers), self.key_col,
            plan="array_fold", has_truncates=False, bucket_col="bucket",
        )

    # -- streaming driver -------------------------------------------------

    def start(
        self,
        events: DataFrame,
        checkpoint_path: str,
        available_now: bool = False,
    ) -> StreamingQuery:
        """Attach to a streaming event feed and run continuously.

        ``checkpoint_path`` is the offset/commit log — the engine-side
        replacement for the reference's replication slot
        (``postgre_cdc_consumer.py:47-58``): deleting it == dropping the
        slot (reprocess from scratch)."""
        return attach(events, self.merge_batch, checkpoint_path, available_now)


class StreamingWireApplyChanges(StreamingApplyChanges):
    """Apply-changes directly from RAW pgoutput wire frames, with live
    schema evolution.

    ``StreamingApplyChanges`` consumes pre-decoded events, which forces
    the relation registry to be fixed before the stream starts. Here the
    registry refreshes INSIDE every micro-batch: R-frames that arrive
    mid-stream (Postgres re-sends a Relation message after DDL) update
    the relid → schema mapping before that batch's data frames decode —
    the distributed analog of the reference's registry overwrite on each
    ``R`` message (``pg_output_parser.py:88-93``).

    The merged registry is persisted (atomic tmp+rename) next to the
    state table so a restart resumes with the schemas learned so far.
    Like the origin carry, it is pinned per batch id with the registry
    the batch started from, so a batch replayed after a crash decodes
    its pre-DDL frames with the schema in force before its own ``R``
    frames, not the one it published on its first attempt.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        key_extractor,
        key_col: str = "key",
        n_buckets: int = 64,
        initial_registry: dict[int, dict] | None = None,
        origin: str = "any",
    ) -> None:
        super().__init__(spark, state_path, key_col, n_buckets)
        self.key_extractor = key_extractor
        self.registry: dict[int, dict] = dict(initial_registry or {})
        self._registry_path = state_path.rstrip("/") + "_registry.json"
        # Subscription origin parameter ("any" | "none" | iterable of
        # allowed origin names): with anything but "any", the frame
        # decode resolves each DML's transaction origin from the B/O
        # markers and drops rejected ones BEFORE the fold — the
        # loop-breaking subscriber semantics of bidirectional
        # replication (cdc/origins.py). The carry (last marker of the
        # previous batch) persists next to the registry so a
        # transaction spanning micro-batches — or a restart — keeps its
        # origin.
        self.origin = origin
        self._origin_path = state_path.rstrip("/") + "_origin.json"
        # before/after are pinned per batch_id so a crash-replayed batch
        # re-seeds with the carry it saw the FIRST time, not its own
        # post-batch marker (the rollup stream's state-version-pin
        # pattern applied to the origin carry and the registry).
        self._origin_state = _read_pin(self._origin_path)
        reg = _read_pin(self._registry_path)
        self._registry_state = {
            "batch_id": reg["batch_id"],
            "before": _relids(reg["before"]),
            "after": _relids(reg["after"]),
        }
        # learned schemas win over the constructor's initial seed
        self.registry.update(self._registry_state["after"] or {})

    def merge_wire_batch(self, frames: DataFrame, batch_id: int | None = None) -> None:
        """One micro-batch of raw frames: registry refresh → decode (with
        origin resolution) → merge.

        The batch is sorted by LSN within each partition (a marker before
        a DML at the same LSN) and materialized ONCE, so the pre-decode
        aggregate, the decode and the merge all read memory, not three
        file scans. That aggregate runs per partition: it answers the lag
        stamp, the row count, the data and TRUNCATE frame counts, the
        batch's R frames, each partition's LSN range and its last B/O
        marker in one job, with at most one row per partition, and its
        job fills the (lazily taken) checkpoint. It also tells the merge
        all its bucket probe would (``BatchShape``), so a batch below
        ``_AUTO_SKEW_MIN_ROWS`` rows commits its run with no probe job.

        With origin filtering on, the driver orders the partitions by
        their first LSN and prefix-scans their last markers from the
        persisted carry, so each partition's decode starts from the
        origin in force at its first frame and drops the DML of rejected
        transactions itself — no separate origins plan. That needs each
        partition to be one LSN-contiguous run: a batch whose partitions'
        ranges overlap (the file source packed non-adjacent files into
        one partition) is range-repartitioned on ``lsn``, as is any batch
        of at least ``_WIDE_DECODE_ROWS`` rows, so the decode runs
        executor-wide; a smaller contiguous batch skips the shuffle,
        whose fixed cost would dominate a latency-sized batch."""
        from python_cdc_spark.cdc.pgoutput import (
            _LSN_MIN,
            _parse_relation_frame,
            decode_frames,
        )

        filtering = self.origin != "any"
        # lazy: the summary's own job fills the checkpoint
        frames = _lsn_sorted(frames).localCheckpoint(eager=False)
        parts = _partition_summary(frames)
        n_rows = sum(r["n"] for r in parts)
        if n_rows >= _WIDE_DECODE_ROWS or (filtering and _overlapping(parts)):
            par = self.spark.sparkContext.defaultParallelism
            frames = _lsn_sorted(
                frames.repartitionByRange(par, "lsn")
            ).localCheckpoint(eager=True)
            if filtering:
                parts = _partition_summary(frames)
        # The batch decodes with an LSN-VERSIONED registry: the carried
        # registry (previous batches / snapshot seed) is valid from the
        # start of the LSN axis, and each R frame in THIS batch opens a
        # new version at its own LSN — so a DDL mid-batch (e.g. a column
        # rename between two inserts of the same micro-batch) decodes
        # each side with the schema in force at its LSN instead of
        # letting the batch's last R frame rewrite history.
        carried = _pinned(self._registry_state, batch_id, self.registry)
        versions: dict[int, list] = {
            relid: [(_LSN_MIN, rel)] for relid, rel in carried.items()
        }
        rel_rows = [rel for r in parts for rel in r["rels"] or []]
        self.registry = dict(carried)
        if rel_rows:
            for row in sorted(rel_rows, key=lambda r: r["lsn"]):
                relid, rel = _parse_relation_frame(bytes(row["frame"]))
                versions.setdefault(relid, []).append((int(row["lsn"]), rel))
                self.registry[relid] = rel  # latest-wins carry for the NEXT batch
            self._registry_state = {
                "batch_id": batch_id, "before": carried, "after": self.registry
            }
            _save_pin(self._registry_path, self._registry_state)

        seeds = None
        if filtering:
            seed = _pinned(
                self._origin_state, batch_id, self._origin_state["after"]
            )
            seeds, after = _origin_seeds(parts, seed)
            self._origin_state = {
                "batch_id": batch_id, "before": seed, "after": after
            }
            _save_pin(self._origin_path, self._origin_state)
        events = decode_frames(
            self.spark, frames, registry=versions,
            origin_seeds=seeds, origin=self.origin,
        )
        self.merge_batch(
            self.key_extractor(events), batch_id,
            shape=BatchShape(
                n_rows,
                any(r["t"] for r in parts),
                min((r["lo"] for r in parts), default=None),
                max((r["hi"] for r in parts), default=None),
            ),
        )
        if self.last_batch is not None:
            self.last_batch["data_frames_in"] = sum(r["dml"] for r in parts)
        # state is durable now — the capture→applied gap is the e2e lag
        self.record_latency(
            batch_id,
            max((r["mx"] for r in parts if r["mx"] is not None), default=None),
            n_rows,
        )

    def start_wire(
        self,
        frames: DataFrame,
        checkpoint_path: str,
        available_now: bool = False,
    ) -> StreamingQuery:
        """Attach to a streaming RAW-frame feed (lsn, ts, frame binary)."""
        return attach(
            frames, self.merge_wire_batch, checkpoint_path, available_now
        )


def _read_pin(path: str) -> dict:
    """A persisted ``{batch_id, before, after}`` carry pin, refusing an
    unstamped file (fsops.check_format)."""
    pin = fsops.read_json(path)
    if pin is None:
        return {"batch_id": None, "before": None, "after": None}
    fsops.check_format(pin, _PIN_FORMAT, path)
    return {k: pin[k] for k in ("batch_id", "before", "after")}


def _save_pin(path: str, pin: dict) -> None:
    """Atomic tmp+rename save of a carry pin beside the state; the state
    path's parent may not exist yet (the first batch runs before the
    store's first commit creates it)."""
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    fsops.publish_json(path, {"format": _PIN_FORMAT, **pin})


def _relids(registry: dict | None) -> dict | None:
    """A registry read back from JSON, relation ids as ints again."""
    return None if registry is None else {int(k): v for k, v in registry.items()}


def _pinned(pin: dict, batch_id: int | None, latest):
    """The carry a batch starts from: the one it saw on its first
    attempt when it is the pinned batch replaying, else ``latest``."""
    if batch_id is not None and pin["batch_id"] == batch_id:
        return pin["before"]
    return latest


def _lsn_sorted(frames: DataFrame) -> DataFrame:
    """Frames in LSN order within each partition, a transaction marker
    before a DML at the same LSN (the as-of tie rule of
    ``origins.annotate_origins_from_markers``). No shuffle."""
    from python_cdc_spark.cdc.pgoutput import EVENT_TAGS

    return frames.sortWithinPartitions(
        "lsn", F.substring("frame", 1, 1).isin(*EVENT_TAGS)
    )


def _partition_summary(frames: DataFrame) -> list:
    """The wire batch's one pre-decode scan, one row per non-empty
    partition: its partition id, newest capture timestamp, row count,
    data (I/U/D/T) and TRUNCATE frame counts, LSN range, R frames
    (O(DDL events)) and last B/O marker — at most parallelism rows, a
    driver-scale collect."""
    from python_cdc_spark.cdc.origins import last_marker_col
    from python_cdc_spark.cdc.pgoutput import EVENT_TAGS

    tag = F.substring("frame", 1, 1)
    return (
        frames.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.max("ts").alias("mx"),
            F.count(F.lit(1)).alias("n"),
            F.count_if(tag.isin(*EVENT_TAGS)).alias("dml"),
            F.count_if(tag == "T").alias("t"),
            F.min("lsn").alias("lo"),
            F.max("lsn").alias("hi"),
            F.collect_list(
                F.when(
                    tag == "R",
                    F.struct("lsn", "frame"),
                )
            ).alias("rels"),
            last_marker_col().alias("marker"),
        )
        .collect()
    )


def _overlapping(parts: list) -> bool:
    """Whether two partitions' LSN ranges meet or overlap, so that
    partitions are not LSN-contiguous runs."""
    spans = sorted((r["lo"], r["hi"]) for r in parts)
    return any(lo <= hi for (_, hi), (lo, _) in zip(spans, spans[1:]))


def _origin_seeds(parts: list, carry: str | None) -> tuple[dict, str | None]:
    """Each partition's starting origin, ``{partition id: origin}``, by a
    prefix scan of the partitions' last markers in LSN order from the
    carry of earlier batches; also the carry after this batch."""
    seeds = {}
    for r in sorted(parts, key=lambda r: r["lo"]):
        seeds[r["pid"]] = carry
        if r["marker"] is not None:
            carry = r["marker"]["origin"]
    return seeds, carry


def drop_checkpoint(checkpoint_path: str) -> None:
    """The ``drop_replication_slot`` analog (R2): forget offsets so the
    next start reprocesses the feed from the beginning."""
    import shutil

    if os.path.isdir(checkpoint_path):
        shutil.rmtree(checkpoint_path)
