"""The one way a streaming sink attaches to a stream.

Every sink's exactly-once story is the same idiom: an idempotent fold
keyed on the micro-batch id, called from ``foreachBatch``, whose
checkpoint commits only after the fold returns. A replayed batch meets
its own id in the sink's ledger (or a fold that converges on replay)
and changes nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def attach(
    stream: DataFrame, fold, checkpoint_path: str, available_now: bool
) -> StreamingQuery:
    """Run ``fold(batch_df, batch_id)`` on every micro-batch of
    ``stream``, with offsets and commits in ``checkpoint_path``.
    ``available_now`` drains what the source holds and stops; otherwise
    the query runs until stopped. Sink streams do not aggregate, so
    Spark treats the update output mode as append."""
    writer = (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(fold)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
