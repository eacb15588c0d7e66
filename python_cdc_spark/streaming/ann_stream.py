"""Streaming ANN index maintenance: the sustained-feed twin of
``operators/ann_index.maintain_ivf_lists_cdc`` (E24 + E26).

The batch fold rewrites Hive-partitioned cell directories; under a
continuous micro-batched vector delta that layout has no commit
atomicity (dynamic partition overwrite is per-directory). This class
keeps the inverted lists in a :class:`~python_cdc_spark.streaming.
state_store.BucketedStateStore` with ``bucket = cell``, inheriting the
store's manifest-swap crash atomicity, partition-pruned touched-cell
reads, and emptied-cell reaping — the same chassis the apply and SCD2
streams ride.

Replay safety WITHOUT a batch ledger: the merge is evict-then-place —
every id in the batch is first evicted from whatever cells hold it,
then I/U row images are placed by the frozen coarse quantizer. Place-
ment is deterministic (frozen centroids), so re-running a batch after
a crash-and-replay reproduces the identical post-state instead of
duplicating inserts. The cost is that a pure INSERT also pays the
victim lookup — one column-pruned (neighbor_id, cell) scan joined with
the broadcast batch ids, the price the batch fold documents for the
same reason.

Quantizer drift: upsert counts accumulate in the store-side meta and
``appended_fraction``/``needs_refit`` (re-exported here) escalate to a
re-fit exactly as on the batch path. The meta records the last counted
batch id, so a replayed batch re-commits its cells but is not counted
twice.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from python_cdc_spark import fsops
from python_cdc_spark.streaming.sink import attach
from python_cdc_spark.streaming.state_store import BucketedStateStore


class StreamingAnnIndex:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        op_col: str = "op",
        payload: dict | None = None,
        dims: int = 64,
        exact: bool = False,
    ) -> None:
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.op_col = op_col
        self.payload = payload or {}
        self.dims = dims
        self.exact = exact
        self.store = BucketedStateStore(spark, path)
        self._cent_path = os.path.join(path, "centroids.parquet")
        self._meta_path = os.path.join(path, "_ann_meta.json")

    # -- quantizer ----------------------------------------------------------

    def _centroids(self) -> DataFrame:
        if not os.path.isdir(self._cent_path):
            raise ValueError(
                "StreamingAnnIndex has no quantizer — call bootstrap() first"
            )
        # the quantizer is FROZEN after bootstrap: infer its schema once,
        # then every per-batch open passes it explicitly (schema
        # inference costs one Spark job per schemaless read — r13)
        sch = getattr(self, "_cent_schema", None)
        if sch is not None:
            return self.spark.read.schema(sch).parquet(self._cent_path)
        df = self.spark.read.parquet(self._cent_path)
        self._cent_schema = df.schema
        return df

    def _load_meta(self) -> dict:
        return fsops.read_json(
            self._meta_path, {"base_rows": 0, "appended_rows": 0}
        )

    def _save_meta(self, meta: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        fsops.publish_json(self._meta_path, meta)

    def appended_fraction(self) -> float:
        meta = self._load_meta()
        base = meta.get("base_rows") or 0
        return (meta.get("appended_rows") or 0) / base if base else 0.0

    def needs_refit(self, threshold: float = 0.3) -> bool:
        """Same measured-decay escalation as the batch index (see
        operators/ann_index.needs_refit for the curve the default
        threshold comes from)."""
        return self.appended_fraction() > threshold

    # -- build / fold ---------------------------------------------------------

    def _place(self, vectors: DataFrame) -> DataFrame:
        from python_cdc_spark.operators.similarity import kmeans_assign

        placed = kmeans_assign(
            vectors.select(self.id_col, self.vec_col),
            self._centroids(),
            self.id_col,
            self.vec_col,
            exact=self.exact,
            dims=self.dims,
        )
        return placed.select(
            F.col(self.id_col).alias("neighbor_id"),
            F.col("cell").cast("int").alias("cell"),
            *[expr.alias(name) for name, expr in self.payload.items()],
        ).withColumn("bucket", F.col("cell").cast("long"))

    def bootstrap(self, corpus: DataFrame, centroids: DataFrame) -> int:
        """Initial build: persist the frozen quantizer, place the whole
        corpus, commit every populated cell. Call once on an empty
        store (snapshot-then-stream, like the apply/SCD2 bootstraps)."""
        if self.store.read() is not None:
            raise ValueError("bootstrap requires an empty index store")
        centroids.write.mode("overwrite").parquet(self._cent_path)
        state = self._place(corpus).localCheckpoint(eager=True)
        touched = [int(r["cell"]) for r in state.select("cell").distinct().collect()]
        self.store.commit(state, touched)
        n = state.count()
        self._save_meta({"base_rows": n, "appended_rows": 0})
        return n

    def merge_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        """Fold one micro-batch of (op, id, vector) rows. Idempotent by
        construction (evict-then-place with a frozen quantizer), so a
        post-crash replay of the same batch converges to the same
        state instead of double-inserting."""
        batch = batch.localCheckpoint(eager=True)
        ids = batch.select(
            F.col(self.id_col).alias("neighbor_id")
        ).distinct().localCheckpoint(eager=False)
        upserts = batch.filter(F.col(self.op_col).isin("I", "U")).select(
            self.id_col, self.vec_col
        )
        new_rows = self._place(upserts).localCheckpoint(eager=True)
        n_upserts = new_rows.count()

        cur = self.store.read()
        if cur is not None:
            old_cells = (
                cur.select("neighbor_id", "cell")
                .join(F.broadcast(ids), "neighbor_id", "left_semi")
                .select("cell")
                .distinct()
            )
        else:
            old_cells = new_rows.limit(0).select("cell")
        new_cells = new_rows.select("cell").distinct()
        touched = sorted(
            int(r["cell"])
            for r in old_cells.unionByName(new_cells).distinct().collect()
        )
        if not touched:
            return

        prior = self.store.read(touched)
        if prior is not None:
            survivors = prior.join(F.broadcast(ids), "neighbor_id", "left_anti")
            state = survivors.unionByName(new_rows)
        else:
            state = new_rows
        self.store.commit(state, touched)
        meta = self._load_meta()
        if batch_id is not None and meta.get("counted_batch") == batch_id:
            return  # a replay: its upserts are already in appended_rows
        meta["appended_rows"] = (meta.get("appended_rows") or 0) + n_upserts
        if batch_id is not None:
            meta["counted_batch"] = batch_id
        self._save_meta(meta)

    # -- read -----------------------------------------------------------------

    def lists(self) -> DataFrame:
        """Current inverted lists (neighbor_id, cell, payload...)."""
        state = self.store.read()
        if state is not None:
            return state.drop("bucket")
        return self.spark.createDataFrame(
            [], f"neighbor_id long, cell int"
            + "".join(f", {name} double" for name in self.payload)
        )

    def probe_cells(self, cells: list[int]) -> DataFrame:
        """Partition-pruned read of only the probed cells — the query
        path's directory pruning, served by the store's manifest."""
        state = self.store.read(cells)
        return state.drop("bucket") if state is not None else self.lists().limit(0)

    # -- streaming ---------------------------------------------------------

    def start(
        self, deltas: DataFrame, checkpoint_path: str, available_now: bool = False
    ) -> StreamingQuery:
        return attach(deltas, self.merge_batch, checkpoint_path, available_now)
