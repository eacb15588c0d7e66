"""Streaming sketch maintenance: HLL registers and count-min counters,
KLL quantile buffers and a Misra-Gries summary folded per micro-batch.

The batch sketches (``queries/sketches.py``) exist because register /
counter state is a *mergeable partial aggregate*; this module is the
streaming consequence: a keyed stream folds into O(m) + O(d·w) rows of
persistent state per micro-batch, and the distinct / frequency
estimates are always available without rescanning history. That is the
100 TB stream-analytics shape — state size is independent of stream
length.

Fold algebra of the HLL/CM pair (idempotent-by-replay when guarded by
the meta pointer below):

- HLL:  new_registers = (old ∪ batch) groupBy bucket -> max(rho)
- CM:   new_counters  = (old ∪ batch) groupBy (row, bucket) -> sum(n)

Restart semantics live in one place, :class:`_VersionedSketch`, the
base of every sketch here: each fold writes a NEW version directory
(``v<N>``; a leftover directory from a crashed attempt is deleted and
rewritten — the write is deterministic), then commits by atomically
replacing ``_meta.json`` = {version, folded batch ids, format} in ONE
``fsops.publish_json``. Version and replay guard travel together, so a
crash on either side of the commit point leaves a state where the
batch is either wholly unfolded (replay refolds from the OLD version)
or wholly folded (replay is skipped) — counters can never
double-count. The previous version survives one generation so a
concurrent reader never races a deletion. Each sketch class keeps only
its algebra (one ``_fold`` returning the frames to write) and its
reads.

Single writer; ``state_path`` must be a LOCAL filesystem path (markers
use ``os`` primitives while parquet goes through Spark's Hadoop FS —
same constraint as ``streaming/state_store.py`` and the dedup index).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_cdc_spark import fsops
from python_cdc_spark.queries.sketches import _GOLD, _mix32
from python_cdc_spark.streaming.sink import attach

#: On-disk sketch-state format. Bumped when the hash geometry (or any
#: register/bucket placement rule) changes, because persisted registers
#: from an older geometry CANNOT be merged with new placements — the
#: mix would silently corrupt estimates. v2 = low-32-bit key mask
#: before _mix32 (r6); v1 (implicit, no "format" key) = unmasked.
_HLL_CM_FORMAT = 2
#: KLL buffer layout version (value/rowid buffers, no key hashing).
_KLL_FORMAT = 1
#: MG summary layout version (string key + count, NULL keys skipped).
_MG_FORMAT = 1

_HLL_SCHEMA = "bucket long, r int"
_CM_SCHEMA = "i int, bucket long, n long"
_KLL_SCHEMA = "bucket long, level int, v double, rid long"


class _VersionedSketch:
    """The versioned commit every streaming sketch shares: ``v<N>``
    state directories under ``state_path`` and one ``_meta.json``
    pointer that carries the version, the replay ledger, the format
    stamp and any extra totals the sketch keeps. Subclasses set
    ``_FORMAT`` and implement ``_fold``."""

    _FORMAT: int

    def __init__(self, spark: SparkSession, state_path: str):
        self.spark = spark
        self.state_path = state_path
        fsops.makedirs(state_path)

    # -- meta pointer (atomic commit of version + replay guard) --------

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.state_path, "_meta.json")

    def _meta(self) -> dict:
        """The committed meta (an empty one before the first fold),
        refusing state written under a different sketch format: folding
        new-geometry updates into old-geometry registers never errors
        but double-places keys (ADVICE r6 #5), so the caller must
        rebuild."""
        meta = fsops.read_json(self._meta_path)
        if meta is None:
            return {"version": 0, "folded": []}
        return fsops.check_format(meta, self._FORMAT, self._meta_path)

    def _commit(self, meta: dict) -> None:
        fsops.publish_json(self._meta_path, {**meta, "format": self._FORMAT})

    def _vdir(self, version: int) -> str:
        return os.path.join(self.state_path, f"v{version}")

    def _read(self, schema: str, part: str = "") -> DataFrame:
        """The committed version's ``part`` frame (``""`` = the version
        directory itself); empty before the first fold."""
        v = self._meta()["version"]
        if v == 0:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            os.path.join(self._vdir(v), part) if part else self._vdir(v)
        )

    # -- fold -----------------------------------------------------------

    def _fold(self, batch: DataFrame, meta: dict) -> tuple[dict, dict]:
        """The sketch's algebra over a non-empty batch: ``({part:
        frame}, extra meta)`` for the version after ``meta``'s."""
        raise NotImplementedError

    def fold_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        meta = self._meta()
        if batch_id is not None:
            if batch_id in meta["folded"]:
                return  # checkpoint replay after a crash past the commit
            meta["folded"] = fsops.record_fold(meta["folded"], batch_id)
        if batch.isEmpty():
            if batch_id is not None:
                self._commit(meta)
            return
        parts, extra = self._fold(batch, meta)
        nxt = meta["version"] + 1
        out = self._vdir(nxt)
        fsops.remove_tree(out)  # crashed attempt: rewrite deterministically
        for part, frame in parts.items():
            frame.coalesce(1).write.parquet(
                os.path.join(out, part) if part else out
            )
        self._commit({**meta, **extra, "version": nxt})
        # sweep EVERY version older than the previous one (not just
        # nxt-2): a crash between a past commit and its cleanup must not
        # leak an orphaned directory for the stream's lifetime
        for entry in fsops.list_dir(self.state_path):
            if (
                entry.startswith("v")
                and entry[1:].isdigit()
                and int(entry[1:]) < nxt - 1
            ):
                fsops.remove_tree(os.path.join(self.state_path, entry))

    # -- streaming attach ----------------------------------------------

    def start(self, stream: DataFrame, checkpoint: str, available_now: bool = True):
        return attach(stream, self.fold_batch, checkpoint, available_now)


class StreamingSketchAggregator(_VersionedSketch):
    """Maintains one HLL (distinct keys) and one count-min sketch
    (key frequencies) over a bigint key column of a stream.

    Keys may be ANY bigint: the key is masked to its low 32 bits
    (``& 0xFFFFFFFF``) before hashing, because ``_mix32`` is defined
    over non-negative inputs (Spark's ``%`` keeps the dividend's sign,
    so an unmasked negative key would produce negative buckets and
    garbage estimates that still merge deterministically). The mask is
    the identity for non-negative keys below 2^32 and folds larger /
    negative keys into the hash domain consistently on build and probe.
    """

    _FORMAT = _HLL_CM_FORMAT

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        key_col: str,
        p_bits: int = 8,
        cm_d: int = 4,
        cm_w: int = 1024,
    ):
        super().__init__(spark, state_path)
        self.key_col = key_col
        self.p_bits = p_bits
        self.m = 1 << p_bits
        self.cm_d = cm_d
        self.cm_w = cm_w

    # -- sketch construction -------------------------------------------

    def _key(self):
        # low-32-bit mask: keeps _mix32's input non-negative for any
        # bigint key (see class docstring)
        return F.col(self.key_col).bitwiseAND(F.lit((1 << 32) - 1))

    def _batch_hll(self, df: DataFrame) -> DataFrame:
        h = df.select(_mix32(self._key()).alias("h"))
        rest_bits = 32 - self.p_bits
        w = F.shiftright(F.col("h"), self.p_bits)
        return (
            h.select(
                (F.col("h") % self.m).alias("bucket"),
                F.when(w == 0, F.lit(rest_bits + 1))
                .otherwise(F.lit(rest_bits + 1) - F.length(F.bin(w)))
                .alias("rho"),
            )
            .groupBy("bucket")
            .agg(F.max("rho").cast("int").alias("r"))
        )

    def _batch_cm(self, df: DataFrame) -> DataFrame:
        cells = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"),
                            (
                                _mix32(self._key() + F.lit(i * _GOLD))
                                % self.cm_w
                            ).alias("bucket"),
                        )
                        for i in range(self.cm_d)
                    ]
                )
            ).alias("cell")
        ).select("cell.i", "cell.bucket")
        return cells.groupBy("i", "bucket").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )

    # -- fold -----------------------------------------------------------

    def _fold(self, batch: DataFrame, meta: dict) -> tuple[dict, dict]:
        hll_new = self._batch_hll(batch)
        cm_new = self._batch_cm(batch)
        if meta["version"] > 0:
            hll_new = (
                self._read(_HLL_SCHEMA, "hll")
                .unionAll(hll_new)
                .groupBy("bucket")
                .agg(F.max("r").cast("int").alias("r"))
            )
            cm_new = (
                self._read(_CM_SCHEMA, "cm")
                .unionAll(cm_new)
                .groupBy("i", "bucket")
                .agg(F.sum("n").cast("long").alias("n"))
            )
        return {"hll": hll_new, "cm": cm_new}, {}

    # -- reads ----------------------------------------------------------

    def registers(self) -> DataFrame:
        return self._read(_HLL_SCHEMA, "hll")

    def counters(self) -> DataFrame:
        return self._read(_CM_SCHEMA, "cm")

    def distinct_estimate(self) -> float:
        """Raw HLL estimate from the current registers (same estimator
        as sketch_hll_orderkeys; valid while n/m is in the raw range)."""
        m = float(self.m)
        row = (
            self.registers()
            .agg(
                F.count(F.lit(1)).alias("b"),
                F.sum(
                    F.lit(1.0) / F.expr("shiftleft(cast(1 as bigint), r)")
                ).alias("s"),
            )
            .collect()[0]
        )
        if not row["b"]:
            return 0.0
        alpha = 0.7213 / (1.0 + 1.079 / m)
        return alpha * m * m / (row["s"] + (m - row["b"]))

    def frequency_estimate(self, keys: DataFrame) -> DataFrame:
        """Count-min point estimates (min over rows) for a key table —
        broadcast probe against the d·w counter cells."""
        probes = keys.select(
            F.col(self.key_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"),
                            (
                                _mix32(self._key() + F.lit(i * _GOLD))
                                % self.cm_w
                            ).alias("bucket"),
                        )
                        for i in range(self.cm_d)
                    ]
                )
            ).alias("cell"),
        ).select(self.key_col, "cell.i", "cell.bucket")
        return (
            F.broadcast(probes)
            .join(self.counters(), ["i", "bucket"])
            .groupBy(self.key_col)
            .agg(F.min("n").cast("long").alias("cm_estimate"))
        )


class KllStreamSketch(_VersionedSketch):
    """Mergeable streaming quantile sketch (KLL-style level buffers).

    State is per-(bucket, level) buffers of (value, rid) pairs: an item
    at level L carries weight 2^L. A batch lands at level 0; any buffer
    exceeding ``k`` items compacts deterministically — sort by
    (value, rid), keep the even indices (0-based), promote them one
    level (weight doubles) — repeating until every buffer fits. Rank
    error grows by at most the promoted weight per compaction, the
    classic KLL bound shape, while total state stays O(buckets × k ×
    log(n/k)) rows regardless of stream length.

    Unlike the HLL/CM state (pure register/counter algebra), KLL
    compaction is HISTORY-DEPENDENT: which items survive depends on the
    batch boundaries, so a streamed fold is a different — equally valid,
    equally bounded — sketch than a one-shot fold over the union. Tests
    therefore pin both against the EXACT quantiles within the error
    bound (plus replay/crash semantics), not bit-equality; the
    oracle-replayable bit-exact variant is the batch query
    ``sketch_kll_quantiles`` (fixed one-shot compaction depth).

    Restart semantics come from :class:`_VersionedSketch` (versioned
    dirs + atomic meta commit + replay guard + GC sweep). Single writer;
    ``state_path`` must be LOCAL.
    """

    _FORMAT = _KLL_FORMAT

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        value_col: str,
        id_col: str,
        k: int = 256,
        n_buckets: int = 8,
    ):
        super().__init__(spark, state_path)
        self.value_col = value_col
        self.id_col = id_col
        self.k = k
        self.n_buckets = n_buckets

    def state(self) -> DataFrame:
        return self._read(_KLL_SCHEMA)

    def _compact(self, st: DataFrame) -> DataFrame:
        """Apply the even-index promotion until every (bucket, level)
        buffer holds <= k items. Each pass is one DataFrame op over the
        sketch-sized state; the count check is metadata-scale."""
        from pyspark.sql import Window

        st = st.localCheckpoint(eager=True)
        while True:
            over = {
                (r["bucket"], r["level"])
                for r in st.groupBy("bucket", "level")
                .count()
                .filter(F.col("count") > self.k)
                .collect()
            }
            if not over:
                return st
            is_over = F.concat_ws(
                ":", F.col("bucket"), F.col("level")
            ).isin([f"{b}:{l}" for b, l in over])
            w = Window.partitionBy("bucket", "level").orderBy("v", "rid")
            marked = st.withColumn("rn", F.row_number().over(w) - 1)
            keep = marked.filter(~is_over).drop("rn")
            promoted = (
                marked.filter(is_over & (F.col("rn") % 2 == 0))
                .drop("rn")
                .withColumn("level", F.col("level") + F.lit(1))
            )
            st = keep.unionByName(promoted).localCheckpoint(eager=True)

    def _fold(self, batch: DataFrame, meta: dict) -> tuple[dict, dict]:
        new0 = batch.select(
            (
                _mix32(F.col(self.id_col).bitwiseAND(F.lit((1 << 32) - 1)))
                % self.n_buckets
            ).alias("bucket"),
            F.lit(0).cast("int").alias("level"),
            F.col(self.value_col).cast("double").alias("v"),
            F.col(self.id_col).cast("long").alias("rid"),
        )
        st = self.state().unionByName(new0) if meta["version"] > 0 else new0
        return {"": self._compact(st)}, {}

    def quantile_estimates(self, qs: list[float]) -> dict[float, float]:
        """Weighted-rank estimates from the current state. The state is
        sketch-sized (O(buckets × k × levels)), so the final scan runs
        at the driver on collected rows — the same metadata-scale
        finish as the batch query's survivor pass."""
        rows = sorted(
            (r["v"], r["rid"], 1 << r["level"]) for r in self.state().collect()
        )
        if not rows:
            return {q: float("nan") for q in qs}
        import math

        total = sum(w for _, _, w in rows)
        out = {}
        for q in qs:
            target = max(1, math.ceil(q * total))
            cw = 0
            for v, _, w in rows:
                cw += w
                if cw >= target:
                    out[q] = v
                    break
        return out


class MgStreamSketch(_VersionedSketch):
    """Streaming Misra-Gries summary: the frequent-items member of the
    streaming sketch family (batch twin: ``operators/heavy_hitters.py``).

    State is the MG summary itself — at most ``capacity`` (key, c)
    rows. Each micro-batch folds by counter merge (batch groupBy-count
    ∪ old summary → sum per key) followed by the batched MG decrement:
    when the merged summary exceeds capacity, the (capacity+1)-th
    largest count is subtracted from every counter and non-positive
    counters drop. MG summaries are MERGEABLE (Agarwal et al.,
    "Mergeable Summaries"): the merged undercount is at most
    Σ N_batch/(capacity+1) = N_total/(capacity+1), so after any number
    of micro-batches ``candidates()`` still contains EVERY key whose
    stream-lifetime frequency exceeds N/(capacity+1) — the same
    guarantee the batch operator gets in one pass, which makes
    stream-candidates + exact recount equal a batch
    ``exact_heavy_hitters`` over the same data (pinned).

    The decrement threshold is read from a ``limit(capacity+1)``
    collect — ≤513 rows, metadata-scale — and the state write is
    summary-sized; per-batch cost is O(batch + capacity) regardless of
    stream length. ``total()`` tracks the folded item count for
    threshold arithmetic.

    Restart semantics come from :class:`_VersionedSketch` (versioned
    dirs + atomic meta commit carrying the replay guard AND the running
    total, so a crash-replay can neither double-count the summary nor
    the total). Single writer; ``state_path`` must be LOCAL.

    NULL keys are not items: like the batch ``exact_heavy_hitters``
    (which counts N over the NULL-filtered frame), a fold drops them
    before counting, so ``total()`` and ``candidates()`` never see one.

    KEY-TYPE COERCION: the persisted summary schema is fixed at
    ``{key_col} string, c long`` and ``fold_batch`` casts the key to
    string, so a non-string key column round-trips as its string
    rendering — ``candidates()`` returns STRING keys, and a recount
    join back to the source column needs a caller-side
    ``cast('string')`` on the source (the pinned batch-equivalence test
    does exactly that). Derive-from-input-type (as the batch
    ``mg_candidates`` does) would make the state schema depend on the
    first stream attached; a fixed string schema keeps restarts
    schema-stable across callers.
    """

    _FORMAT = _MG_FORMAT

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        key_col: str,
        capacity: int = 512,
    ):
        super().__init__(spark, state_path)
        self.key_col = key_col
        self.capacity = capacity

    def summary(self) -> DataFrame:
        """(key, c) — MG lower-bound counters, ≤ capacity rows."""
        return self._read(f"{self.key_col} string, c long")

    def candidates(self) -> DataFrame:
        """Keys guaranteed to include every item with lifetime
        frequency > total()/(capacity+1)."""
        return self.summary().select(self.key_col)

    def total(self) -> int:
        """Items folded so far (crash-consistent with the summary)."""
        return int(self._meta().get("n_total", 0))

    def _fold(self, batch: DataFrame, meta: dict) -> tuple[dict, dict]:
        bc = batch.select(
            F.col(self.key_col).cast("string").alias(self.key_col)
        ).filter(F.col(self.key_col).isNotNull())
        n_batch = bc.count()
        merged = bc.groupBy(self.key_col).agg(F.count(F.lit(1)).cast("long").alias("c"))
        if meta["version"] > 0:
            merged = (
                self.summary()
                .unionByName(merged)
                .groupBy(self.key_col)
                .agg(F.sum("c").cast("long").alias("c"))
            )
        merged = merged.localCheckpoint(eager=True)
        if merged.count() > self.capacity:
            # the (capacity+1)-th largest count, deterministic tiebreak;
            # ≤ capacity+1 collected rows — metadata-scale
            head = merged.orderBy(F.desc("c"), F.asc(self.key_col)).limit(
                self.capacity + 1
            ).collect()
            sub = int(head[-1]["c"])
            merged = merged.filter(F.col("c") > sub).select(
                self.key_col, (F.col("c") - sub).cast("long").alias("c")
            )
        return {"": merged}, {"n_total": meta.get("n_total", 0) + n_batch}
