"""Structured Streaming: the reference's pipeline rebuilt on micro-batches.

The reference's runtime is: blocking replication loop → bounded queue →
3 printing worker threads, acking each message before it is processed
(at-most-once; ``/root/reference/cdc_consumer.py``,
``utils/postgre_cdc_consumer.py:86-110``). Here the same roles are:

- source loop   → ``readStream`` file source (rate-limited by
  ``maxFilesPerTrigger`` — the queue-backpressure analog)
- queue         → the micro-batch itself
- worker pool   → partition-parallel ``foreachBatch`` sinks, every one
  attached by ``sink.attach``
- ack/offset    → checkpoint commit at batch END (upgrading the
  reference's ack-before-process to effectively-once): each sink's fold
  is idempotent per batch id, either by construction (``apply_stream``'s
  max-lsn merge) or through a replay ledger committed with its state
  (``fsops.record_fold``)
"""

from python_cdc_spark.streaming.apply_stream import (  # noqa: F401
    StreamingApplyChanges,
    StreamingWireApplyChanges,
)
from python_cdc_spark.streaming.dedup_stream import (  # noqa: F401
    StreamingCorpusDedup,
)
from python_cdc_spark.streaming.ivm_stream import (  # noqa: F401
    StreamingIncrementalAgg,
)
from python_cdc_spark.streaming.pca_stream import (  # noqa: F401
    StreamingPCA,
)
from python_cdc_spark.streaming.windows import (  # noqa: F401
    session_window_agg,
    sliding_window_agg,
    streaming_dedup,
    tumbling_window_agg,
)
