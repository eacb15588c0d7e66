"""Streaming SCD2: continuous type-2 history maintenance (E19 + E24).

Batch ``scd2_history`` rebuilds from the full feed; this class maintains
the history INCREMENTALLY per micro-batch:

- closed versions are immutable — never re-read beyond their bucket,
  never rewritten with new content;
- each batch re-opens only the CURRENT version of touched keys, replays
  it together with the batch's events through the same window recipe,
  and renumbers the resulting versions to continue the key's sequence;
- state layout mirrors ``StreamingApplyChanges``: hash-bucketed parquet
  behind :class:`~python_cdc_spark.streaming.state_store.
  BucketedStateStore` — partition-pruned reads of touched buckets,
  crash-atomic manifest-swap commits.

Assumes per-key lsn-monotone batches (the order a replication slot
delivers); an out-of-order event older than the open version is a
residual risk documented here, not silently absorbed — history
numbering is only well-defined for ordered feeds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from python_cdc_spark.cdc.scd2 import scd2_history
from python_cdc_spark.streaming.sink import attach
from python_cdc_spark.streaming.state_store import BucketedStateStore


class StreamingScd2:
    def __init__(
        self,
        spark: SparkSession,
        history_path: str,
        key_col: str = "key",
        n_buckets: int = 64,
    ) -> None:
        self.spark = spark
        self.history_path = history_path
        self.key_col = key_col
        self.n_buckets = n_buckets
        self.store = BucketedStateStore(spark, history_path)

    def _bucket(self, key: F.Column) -> F.Column:
        return F.pmod(F.xxhash64(key.cast("string")), F.lit(self.n_buckets))

    def history(self) -> DataFrame:
        state = self.store.read()
        if state is not None:
            return state.drop("bucket")
        return self.spark.createDataFrame(
            [],
            f"{self.key_col} string, version long, operation string, "
            "values map<string,string>, valid_from timestamp, "
            "valid_to timestamp, is_current boolean, lsn bigint",
        )

    def bootstrap(
        self, snapshot: DataFrame, snapshot_lsn: int, snapshot_ts: str
    ) -> None:
        """Initial-snapshot load for the history table: every snapshot
        row becomes version 1, open (``is_current``, ``valid_to`` NULL)
        as of ``snapshot_ts``/``snapshot_lsn`` — the snapshot-then-stream
        pattern, mirroring ``StreamingApplyChanges.bootstrap``. When the
        stream attaches, ``merge_batch`` replays the open version
        together with the new events through the same window recipe, so
        the first post-snapshot change CLOSES version 1 at its event
        time and opens version 2 — exactly as if the snapshot row had
        arrived as an INSERT. Call once on an empty store."""
        if self.store.read() is not None:
            raise ValueError("bootstrap requires an empty history store")
        values = F.map_from_arrays(
            F.array(*[F.lit(c) for c in snapshot.columns]),
            F.array(*[F.col(c).cast("string") for c in snapshot.columns]),
        )
        state = (
            snapshot.select(
                F.col(self.key_col).cast("string").alias(self.key_col),
                F.lit(1).cast("long").alias("version"),
                F.lit("INSERT").alias("operation"),
                values.alias("values"),
                F.lit(snapshot_ts).cast("timestamp").alias("valid_from"),
                F.lit(None).cast("timestamp").alias("valid_to"),
                F.lit(True).alias("is_current"),
                F.lit(snapshot_lsn).cast("long").alias("lsn"),
            )
            .withColumn("bucket", self._bucket(F.col(self.key_col)))
        )
        self.store.commit(state, list(range(self.n_buckets)))

    def merge_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        batch = batch.select(
            "lsn", "operation", "new_values", "ts", F.col(self.key_col)
        ).withColumn("bucket", self._bucket(F.col(self.key_col)))
        touched = [r["bucket"] for r in batch.select("bucket").distinct().collect()]
        if not touched:
            return

        prior = self.store.read(touched)

        events = batch.drop("bucket")
        if prior is not None:
            open_versions = prior.filter(F.col("is_current"))
            closed = prior.filter(~F.col("is_current"))
            # replay each open version as its originating event so the
            # window recipe re-derives its valid_to/is_current against
            # the new events
            reopened = open_versions.select(
                "lsn",
                "operation",
                F.col("values").alias("new_values"),
                F.col("valid_from").alias("ts"),
                F.col(self.key_col),
            )
            events = events.unionByName(reopened)
            # versions 1..v0-1 are closed; the replayed open version is
            # numbered 1 in the re-run, so offset by closed count
            offsets = closed.groupBy(self.key_col).agg(
                F.count(F.lit(1)).alias("__offset")
            )
        else:
            closed = None
            offsets = None

        hist = scd2_history(events, self.key_col)
        if offsets is not None:
            hist = (
                hist.join(offsets, self.key_col, "left")
                .withColumn(
                    "version", F.col("version") + F.coalesce(F.col("__offset"), F.lit(0))
                )
                .drop("__offset")
            )
        out = hist.select(
            self.key_col, F.col("version").cast("long").alias("version"),
            "operation", "values", "valid_from", "valid_to", "is_current", "lsn",
        )
        if closed is not None:
            out = closed.drop("bucket").unionByName(out)
        out = out.withColumn("bucket", self._bucket(F.col(self.key_col)))
        # New immutable version dir + manifest swap: the plan reads the
        # old version's files while writing the new one, and the commit
        # is crash-atomic and clusters by bucket itself (see state_store
        # module docs).
        self.store.commit(out, touched)
        self.store.vacuum()

    def start(
        self, events: DataFrame, checkpoint_path: str, available_now: bool = False
    ) -> StreamingQuery:
        return attach(events, self.merge_batch, checkpoint_path, available_now)
