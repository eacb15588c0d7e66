"""Streaming corpus dedup: documents arrive as a stream, the near-dup
index folds every micro-batch.

``StreamingCorpusDedup`` wires Structured Streaming's file source to
``operators/incremental_dedup``: each ``foreachBatch`` delta generates
candidates only against the persisted band index, verifies with exact
Jaccard, and merges clusters over the contracted graph — so per-batch
work scales with the batch, and the components table is always the
exact result a batch rerun over everything-so-far would produce
(pinned by ``test_streaming_corpus_dedup_matches_batch``).

Restart semantics: the index fold happens BEFORE the streaming
checkpoint commits, so a crash between the two replays the batch on
restart. Two layers make that safe (ADVICE r4): the fold itself is
idempotent by construction — each delta lands in a batch-tag-named
subdirectory committed all-or-nothing, and a replay first deletes the
tag's directory before rewriting it (see operators/incremental_dedup) —
and folded batch ids are additionally recorded in ``_folded.json`` next
to the index so a replayed batch skips the recompute entirely. The
marker is an optimization; correctness no longer depends on it.

Single-writer assumption, and ``index_path`` must be a LOCAL
filesystem path: the markers use ``os`` primitives while parquet goes
through Spark's Hadoop FS — an object-store URI would split the two
(same constraint as ``streaming/state_store.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from python_cdc_spark import fsops
from python_cdc_spark.operators.incremental_dedup import (
    build_dedup_index,
    cdc_dedup_index_update,
    incremental_dedup_update,
)
from python_cdc_spark.streaming.sink import attach

#: ``_folded.json`` layout version (``{"format", "folded": [batch ids]}``).
_FOLDED_FORMAT = 1


class StreamingCorpusDedup:
    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        self.spark = spark
        self.index_path = index_path
        self.text_col = text_col
        self.id_col = id_col

    @property
    def _folded_path(self) -> str:
        return os.path.join(self.index_path, "_folded.json")

    def _folded_ids(self) -> set:
        ledger = fsops.read_json(self._folded_path)
        if ledger is None:
            return set()
        return set(
            fsops.check_format(ledger, _FOLDED_FORMAT, self._folded_path)[
                "folded"
            ]
        )

    def _mark_folded(self, batch_id: int) -> None:
        fsops.publish_json(
            self._folded_path,
            {
                "format": _FOLDED_FORMAT,
                "folded": fsops.record_fold(self._folded_ids(), batch_id),
            },
        )

    def bootstrap(self, docs: DataFrame) -> None:
        """Seed the index from an existing corpus (batch build)."""
        build_dedup_index(
            self.spark, docs, self.index_path, self.text_col, self.id_col
        )

    def fold_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        if batch_id is not None and batch_id in self._folded_ids():
            return  # checkpoint replay after a crash mid-commit
        if not batch.isEmpty():
            incremental_dedup_update(
                self.spark,
                self.index_path,
                batch,
                self.text_col,
                self.id_col,
                batch_tag=None if batch_id is None else f"batch_{batch_id}",
            )
        if batch_id is not None:
            self._mark_folded(batch_id)

    def components(self) -> DataFrame:
        """Current (v, component) clusters — exact as of the last fold.
        Reads through the version pointer, so it never races a swap."""
        from python_cdc_spark.operators.incremental_dedup import read_components

        return read_components(self.spark, self.index_path)

    def start(self, stream: DataFrame, checkpoint: str, available_now: bool = True):
        """Attach to a streaming DataFrame of documents."""
        return attach(stream, self.fold_batch, checkpoint, available_now)


class StreamingCdcCorpusDedup(StreamingCorpusDedup):
    """Near-dup clusters maintained by a LIVE I/U/D document CDC stream —
    the dedup analog of ``StreamingCdcRollupMaintenance`` and the
    streaming ANN maintenance: each micro-batch carries
    (``op_col`` ∈ INSERT/UPDATE/DELETE, id, text) rows and folds through
    ``cdc_dedup_index_update`` (generation-aware eviction + affected-
    component recompute), so the cluster table tracks a corpus that
    CHANGES, not just grows.

    Restart semantics are inherited: the CDC fold is replay-idempotent
    by tag (a replayed batch deletes and rewrites its own generation
    directory, and the recompute is a deterministic fixpoint), with the
    ``_folded.json`` marker skipping the recompute entirely on replay.
    Batches must apply in stream order (generations are monotone) —
    Structured Streaming guarantees that for a single query."""

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        op_col: str = "operation",
    ):
        super().__init__(spark, index_path, text_col, id_col)
        self.op_col = op_col

    def fold_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        if batch_id is not None and batch_id in self._folded_ids():
            return  # checkpoint replay after a crash mid-commit
        if not batch.isEmpty():
            cdc_dedup_index_update(
                self.spark,
                self.index_path,
                batch,
                self.text_col,
                self.id_col,
                self.op_col,
                batch_tag=None if batch_id is None else f"cdcbatch_{batch_id}",
            )
        if batch_id is not None:
            self._mark_folded(batch_id)
