"""Streaming BM25 index maintenance: the sustained-feed twin of
``operators/bm25_index.cdc_bm25_update`` (E27 + E18) — completing
batch-fold + streaming-twin + oracle-gate parity across all four
CDC-maintained structures (rollup cube, ANN lists, dedup index, text
index).

The batch fold is already crash-exact (staged bucket/meta directories
published by one atomic pointer swap) and replay-idempotent (fold-tag
ledger inside the pointer), so this class only has to route micro-
batches at it with a STABLE tag per batch id: Structured Streaming
guarantees a given ``batch_id`` always carries the same rows, so
``cdcbatch_<id>`` is a correct replay key even when the checkpoint
commit lands after our pointer swap — the redelivered batch hits the
ledger and folds as a no-op. Counter arithmetic (df/globals) therefore
can never double-count, the property the r10 verdict required.

Single writer per index; LOCAL paths (the package-wide constraint:
``os``-primitive pointer + Spark parquet data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from python_cdc_spark.operators.bm25_index import (
    bm25_search,
    build_bm25_index,
    cdc_bm25_update,
)
from python_cdc_spark.streaming.sink import attach


class StreamingBm25Index:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        op_col: str = "operation",
        seq_col: str | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.text_col = text_col
        self.id_col = id_col
        self.op_col = op_col
        #: ordering column (LSN / offset) used to compact a micro-batch
        #: to its LAST image per key before folding — without it, a
        #: batch carrying two ops for one id is ambiguous and refused
        self.seq_col = seq_col

    def bootstrap(self, corpus: DataFrame) -> int:
        """Seed from the existing corpus (snapshot-then-stream, like the
        apply/SCD2/ANN bootstraps). Returns the indexed doc count."""
        return build_bm25_index(
            self.spark, corpus, self.path, self.text_col, self.id_col
        )

    def merge_batch(self, batch: DataFrame, batch_id: int | None = None) -> dict:
        """Fold one I/U/D micro-batch. The batch id is the replay key;
        a batch without one (ad-hoc batch use) falls back to the
        content-digest tag the batch API derives.

        The fold's evict-then-place treats all of a batch's images for
        one id as a single upsert, so a batch carrying INSERT then
        UPDATE for the same doc would merge BOTH texts' tokens into one
        document. Compact to the LAST image per key first (by
        ``seq_col`` when the feed carries an ordering column); a
        multi-image batch without one is ambiguous and refused rather
        than folded wrong."""
        if batch.isEmpty():
            return {"replayed": False, "empty": True}
        from pyspark.sql import functions as F

        if self.seq_col is not None:
            from python_cdc_spark.cdc.apply import latest_per_key

            batch = latest_per_key(batch, [self.id_col], self.seq_col)
        else:
            dup = (
                batch.groupBy(self.id_col)
                .agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "micro-batch carries multiple images for one "
                    f"{self.id_col}; pass seq_col so merge_batch can "
                    "compact to the last image per key"
                )
        tag = f"cdcbatch_{batch_id:06d}" if batch_id is not None else None
        return cdc_bm25_update(
            self.spark,
            self.path,
            batch,
            self.text_col,
            self.id_col,
            self.op_col,
            batch_tag=tag,
        )

    def search(
        self, terms: tuple[str, ...], k: int = 20, k1: float = 1.2, b: float = 0.75
    ) -> DataFrame:
        """Top-k retrieval from the live index (bucket-pruned doclen,
        TakeOrderedAndProject top-k — the batch search verbatim)."""
        return bm25_search(self.spark, self.path, terms, k, k1, b)

    def start(
        self, deltas: DataFrame, checkpoint_path: str, available_now: bool = False
    ) -> StreamingQuery:
        return attach(deltas, self.merge_batch, checkpoint_path, available_now)
