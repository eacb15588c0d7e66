"""Streaming PCA: a continuously-fresh embedding model from per-batch
sufficient-statistic folds.

The PCA suffstats (n, Σx, XᵀX) form an exact commutative monoid — two
datasets' triples ADD — so the streaming fold is trivially correct:
each micro-batch contributes its own partitioned partials
(``operators/pca.suffstats``: Arrow-batched BLAS per partition, one row
per partition collected) and the running triple just sums. No history
rescan, no approximation: after any number of batches the model is
IDENTICAL to a one-shot ``pca_fit`` over the union (pinned by
``test_streaming_pca_matches_batch``).

State is O(d²) doubles (~33 KiB at d=64), so the whole triple lives in
ONE JSON meta file committed via write-temp + atomic rename — the same
crash contract as the sketch streams (``streaming/sketch_stream.py``)
with the parquet version dirs collapsed away: the replay guard
(``folded`` batch-id tail) travels in the same atomic write as the
stats, so a crash-replayed micro-batch can never double-count, and a
crash before the rename leaves the previous consistent state.

This is the shape a 100 TB embedding pipeline wants for its
whitening/rotation model: the corpus streams in once, the model stays
current per micro-batch at O(d²) cost, and downstream PQ/ANN readers
broadcast the latest model without ever touching history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from python_cdc_spark import fsops
from python_cdc_spark.operators.pca import model_from_suffstats, suffstats
from python_cdc_spark.streaming.sink import attach

#: ``_meta.json`` layout version (n, Σx, XᵀX, replay ledger, dims).
_PCA_FORMAT = 1


class StreamingPCA:
    """foreachBatch folder of PCA sufficient statistics."""

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        vec_col: str = "embedding",
        dims: int = 64,
        k: int = 16,
    ) -> None:
        self.spark = spark
        self.state_path = state_path
        self.vec_col = vec_col
        self.dims = dims
        self.k = k
        os.makedirs(state_path, exist_ok=True)

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.state_path, "_meta.json")

    def _meta(self) -> dict:
        """The committed meta, or empty stats when nothing is folded yet.
        Every reader goes through here, so a meta without the format
        stamp is refused (``fsops.check_format``) before any use."""
        meta = fsops.read_json(self._meta_path)
        if meta is None:
            return {
                "n": 0,
                "s": [0.0] * self.dims,
                "g": [0.0] * (self.dims * self.dims),
                "folded": [],
                "dims": self.dims,
            }
        return fsops.check_format(meta, _PCA_FORMAT, self._meta_path)

    def _commit(self, meta: dict) -> None:
        fsops.publish_json(self._meta_path, {**meta, "format": _PCA_FORMAT})

    # -- fold -------------------------------------------------------------

    def fold_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        meta = self._meta()
        if meta.get("dims") != self.dims:
            raise ValueError(
                f"state at {self.state_path} was written for dims="
                f"{meta.get('dims')}, not {self.dims}"
            )
        if batch_id is not None and batch_id in meta["folded"]:
            return  # checkpoint replay past the commit: already folded
        n, s, g = suffstats(batch, self.vec_col, self.dims)
        import numpy as np

        meta["n"] = int(meta["n"] + n)
        meta["s"] = (np.asarray(meta["s"]) + s).tolist()
        meta["g"] = (np.asarray(meta["g"]) + g.reshape(-1)).tolist()
        if batch_id is not None:
            meta["folded"] = fsops.record_fold(meta["folded"], batch_id)
        self._commit(meta)

    # -- reads ------------------------------------------------------------

    def model(self, k: int | None = None) -> dict:
        """The current model — exactly ``pca_fit`` over everything folded
        so far (driver eigh over the O(d²) state, no data read)."""
        meta = self._meta()
        return model_from_suffstats(
            meta["n"], meta["s"], meta["g"], k or self.k
        )

    def rows_folded(self) -> int:
        return int(self._meta()["n"])

    # -- streaming driver ---------------------------------------------------

    def start(self, stream: DataFrame, checkpoint: str, available_now: bool = True):
        return attach(stream, self.fold_batch, checkpoint, available_now)
