"""SparkSession factory with scale-oriented defaults.

The reference engine is a single-threaded push loop with a 3-thread sink
pool (``cdc_consumer.py:100-104``); here the unit of parallelism is the
Spark partition.  Defaults below are tuned so the same code runs on
``local[32]`` for tests and on a real cluster unchanged:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion at runtime).
- ``spark.sql.shuffle.partitions`` kept moderate locally; AQE coalesces
  further. On a 1000-executor cluster this should be raised (or left to
  AQE with a high initial value).
- Arrow enabled so any Pandas-UDF path is vectorized batch transfer.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target


def get_spark(
    app_name: str = "python_cdc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``*``)
    so tests and bench share one knob.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # scans of >32 explicit paths otherwise fire a DISTRIBUTED
        # file-listing job (one scheduler round-trip of pure floor per
        # open) — the BM25 index reads 64 bucket dirs per fold/search.
        # Listing ≤128 local dirs is microseconds on the driver; on an
        # object store the distributed path only wins at thousands of
        # prefixes (guide §6: manifest-style metadata beats listing
        # either way at that scale)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
        # local[32] runs driver + all 32 executor threads in ONE JVM: the
        # old 8g default was 0.25g/core — far below any real deployment
        # (clusters run ~1-4g/core). 32g ≈ 1g/core on the 128 GiB box;
        # still env-overridable for constrained hosts.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_for_harness(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally-created session.

    The correctness driver hands us its own SparkSession; these confs are
    safe to set post-creation and keep oracle comparisons deterministic
    (UTC timestamps) and plans adaptive.
    """
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # events.parquet carries TIMESTAMP(NANOS); set once here, not
        # inside every table() call (a reader mutating shared session
        # conf would race concurrent queries)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # driver-side listing for ≤128 explicit paths (the 64-bucket
        # index reads) instead of a distributed listing job — see
        # get_spark for the scale justification
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "128",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in some deployments; defaults are acceptable
    return spark


def run_concurrent(spark: SparkSession, *fns: Callable[[], Any]) -> list:
    """Run independent Spark jobs side by side: one worker thread per
    callable, results in argument order.

    This is the engine's ONE thread pool. Each worker inherits the
    caller's thread-local Spark properties (job tags, job group,
    scheduler pool), so jobs it submits are charged to the caller's
    tag like jobs submitted inline. ``spark`` is passed explicitly:
    inside another pool's thread ``getActiveSession()`` can be None,
    and the session-less wrapper drops session tags.

    A worker's exception is raised only after EVERY worker finished,
    so no sibling write is still running when the caller's error path
    (cleanup, retry) starts."""
    # one wrapper per callable: each clones the caller's properties, so a
    # worker that sets its own property cannot leak it into a sibling
    with ThreadPoolExecutor(max_workers=max(len(fns), 1)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn)) for fn in fns]
    # leaving the block waited for every worker
    return [f.result() for f in futures]


def cluster(df: DataFrame, cols: list, groups: int | None = None) -> DataFrame:
    """``df`` hash-partitioned on ``cols`` into ``min(groups,
    defaultParallelism)`` tasks (executor width when ``groups`` is
    None): the one layout of a partitioned write.

    ``groups`` is how many output groups (partition directories, state
    buckets) the write holds. All rows of a group land in one task, so
    each group gets exactly one file. The count is explicit because AQE
    coalesces a small keyed shuffle into as few tasks as its bytes
    need, often one, which then writes every directory serially; an
    explicit count is never coalesced."""
    par = int(df.sparkSession.sparkContext.defaultParallelism)
    width = par if groups is None else min(int(groups), par)
    return df.repartition(max(1, width), *cols)
