"""Streaming incremental view maintenance: continuous group aggregates.

The streaming twin of :func:`python_cdc_spark.cdc.ivm.
incremental_group_aggregate`. The batch version replays a whole feed;
here the aggregate stays continuously fresh as micro-batches arrive,
with per-batch cost proportional to the batch — never to total state.

Design — bucket-level IVM over the existing keyed state:

- ``StreamingApplyChanges`` already maintains per-key state
  hash-bucketed so a batch rewrites only touched buckets;
- the maintained aggregate is stored PER (bucket, group): after the key
  merge commits, only the touched buckets' group aggregates are
  recomputed (a scan of exactly those buckets' live rows) and committed
  to a second :class:`BucketedStateStore` — same crash-atomic manifest
  swap, same O(touched) cost;
- reading the view sums the per-bucket partials per group — O(n_buckets
  × n_groups) rows, metadata-scale.

Aggregation state is an exact fixed-scale decimal (queries/helpers.DEC)
so partial sums compose associatively across buckets and batches with
no float drift; the final read rounds once and casts to double,
matching the batch operator bit-for-bit.

Crash story: the key-state commit and the aggregate commit are two
atomic swaps, not one transaction. A crash between them leaves the
aggregate one batch stale; the streaming checkpoint replays the batch,
the key merge is idempotent, and the aggregate recompute runs from the
(already-correct) key state — convergence, not corruption. A
transactional table format would collapse the two swaps into one commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_cdc_spark.queries.helpers import DEC
from python_cdc_spark.streaming.apply_stream import StreamingApplyChanges
from python_cdc_spark.streaming.state_store import BucketedStateStore


class StreamingIncrementalAgg(StreamingApplyChanges):
    """Continuously maintain ``SELECT group, COUNT(*), SUM(value)`` over
    the applied CDC state.

    ``group_field`` / ``value_field`` name entries of the state's
    ``values`` map (the resolved row image, sentinels already
    coalesced).
    """

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        agg_path: str,
        group_field: str,
        value_field: str,
        key_col: str = "key",
        n_buckets: int = 64,
    ) -> None:
        super().__init__(spark, state_path, key_col, n_buckets)
        self.group_field = group_field
        self.value_field = value_field
        self.agg_store = BucketedStateStore(spark, agg_path)

    def merge_batch(self, batch: DataFrame, batch_id: int | None = None) -> list[int]:
        touched = super().merge_batch(batch, batch_id)
        if not touched:
            return touched
        state = self.store.read(touched)
        live = (
            state.filter(F.col("values").isNotNull())
            if state is not None
            else None
        )
        if live is None:
            return touched
        val = F.col("values")[self.value_field].cast(DEC)
        # any ALGEBRAIC aggregate works here: partials are per (bucket,
        # group) and merge across buckets at read (sum/sum, min/min,
        # max/max; avg derives from sum+count) — the recompute-per-
        # touched-bucket design never needs per-aggregate retraction
        # logic, which is what makes non-invertible aggs (min/max) free
        per_bucket = (
            live.groupBy(
                "bucket", F.col("values")[self.group_field].alias("grp")
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(val).alias("sum_dec"),
                F.min(val).alias("min_dec"),
                F.max(val).alias("max_dec"),
            )
        )
        self.agg_store.commit(per_bucket, touched)
        self.agg_store.vacuum(retain_last=self.retention)
        return touched

    def aggregate(self) -> DataFrame:
        """The maintained view: (grp, n_rows, sum_value, min_value,
        max_value, avg_value) over live keys — per-bucket partials
        merged per group."""
        partials = self.agg_store.read()
        if partials is None:
            return self.spark.createDataFrame(
                [],
                "grp string, n_rows bigint, sum_value double, "
                "min_value double, max_value double, avg_value double",
            )
        total = F.sum("sum_dec")
        n = F.sum("n_rows")
        return (
            partials.groupBy("grp")
            .agg(
                n.alias("n_rows"),
                F.round(total, 4).cast("double").alias("sum_value"),
                F.min("min_dec").cast("double").alias("min_value"),
                F.max("max_dec").cast("double").alias("max_value"),
                (F.round(total, 4).cast("double") / n).alias("avg_value"),
            )
            .filter(F.col("n_rows") > 0)
        )
