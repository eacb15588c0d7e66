#!/usr/bin/env python
"""Attribute the streaming-apply throughput ceiling (VERDICT r6 #6).

BENCH_LATENCY.json's saturation sweep put the hard apply ceiling at
~125k events/s on local[32]. This tool decomposes ONE merge cycle into
its phases and times each against batch size, so the ceiling has a
named owner instead of a guess:

  decode   — Arrow mapInPandas pgoutput frame decode
  fold     — apply_changes_with_tombstones over batch ∪ state-as-events
  commit   — BucketedStateStore parquet write + manifest swap
  vacuum   — superseded-version reclamation

Method: N batches of B wire-encoded INSERT/UPDATE events over a rolling
key space are merged sequentially into one state store (steady state:
every batch touches all buckets, state holds K distinct keys). Each
phase is wall-timed by materializing its output (localCheckpoint for
the lazy stages, so a phase is charged its OWN cost, not its
upstream's). Prints ONE JSON line with per-phase medians and the
implied per-phase events/s.

Usage: python tools/profile_apply_ceiling.py [--batch 125000] [--batches 8]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batch", type=int, default=125_000)
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--keys", type=int, default=200_000)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--plan", default="argmax",
                    choices=["argmax", "array_fold"])
    ap.add_argument("--merge", default="replay",
                    choices=["replay", "state_merge"],
                    help="how prior state combines with the batch fold")
    ap.add_argument("--store", default="dirs",
                    choices=["dirs", "table"],
                    help="state backend: the versioned bucket store, one "
                    "file per write task (default), or a bucketed TABLE "
                    "(shuffle-free merge join)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from python_cdc_spark.cdc.pgoutput import (
        decode_frames,
        encode_insert,
        encode_relation,
        relation_registry,
    )
    from python_cdc_spark.session import get_spark
    from python_cdc_spark.streaming import StreamingApplyChanges

    spark = get_spark(app_name="profile_apply_ceiling")
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="apply_prof_")
    applier = StreamingApplyChanges(
        spark, os.path.join(root, "state"), "key", n_buckets=args.buckets
    )
    tstore = None
    if args.store == "table":
        from python_cdc_spark.streaming.state_store import (
            BucketedTableStateStore,
        )

        spark.sql("DROP TABLE IF EXISTS prof_state_v1")
        tstore = BucketedTableStateStore(
            spark, os.path.join(root, "tstate"), "prof_state",
            key_col="key", n_buckets=args.buckets,
        )
    registry = None
    phases: dict[str, list[float]] = {
        "encode_feed": [], "decode": [], "fold": [], "commit": [], "vacuum": []
    }
    try:
        lsn = 1
        for b in range(args.batches):
            # producer side (not part of the apply ceiling, timed for
            # context): wire frames for one batch
            t0 = time.perf_counter()
            frames = []
            if b == 0:
                frames.append(
                    (0, encode_relation(9, "public", "users", ["id", "name"]))
                )
            for i in range(args.batch):
                key = (lsn * 2654435761) % args.keys
                frames.append((lsn, encode_insert(9, [str(key), f"u{lsn}"])))
                lsn += 1
            now = dt.datetime.now(dt.timezone.utc)
            fdf = spark.createDataFrame(
                [(l, now, bytearray(f)) for l, f in frames],
                "lsn bigint, ts timestamp, frame binary",
            ).repartition(32).localCheckpoint(eager=True)
            phases["encode_feed"].append(time.perf_counter() - t0)

            t0 = time.perf_counter()
            if registry is None:
                registry = relation_registry(fdf)
            events = decode_frames(spark, fdf, registry=registry).withColumn(
                "key", F.col("new_values")["id"]
            ).localCheckpoint(eager=True)
            phases["decode"].append(time.perf_counter() - t0)

            # merge_batch internals, phase-timed (same code path,
            # instrumented): fold then commit then vacuum
            from python_cdc_spark.cdc.apply import (
                apply_changes_with_tombstones_multi,
                merge_state_with_batch,
            )

            t0 = time.perf_counter()
            if args.store == "table":
                ev = events.select(
                    "lsn", "operation", "new_values", "schema", "table",
                    F.col("key"),
                )
                prior = tstore.read()
                if prior is not None:
                    new_state = merge_state_with_batch(
                        prior, ev, "key", plan=args.plan
                    ).localCheckpoint(eager=True)
                else:
                    new_state = apply_changes_with_tombstones_multi(
                        ev, "key", plan=args.plan, has_truncates=False
                    ).localCheckpoint(eager=True)
                phases["fold"].append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                tstore.commit(new_state)
                phases["commit"].append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                tstore.vacuum(retain_last=1)
                phases["vacuum"].append(time.perf_counter() - t0)
                print(
                    f"# batch {b}: " + " ".join(
                        f"{k}={v[-1]:.2f}s" for k, v in phases.items() if v
                    ),
                    file=sys.stderr,
                )
                continue
            batch = events.select(
                "lsn", "operation", "new_values", "schema", "table",
                F.col("key"),
            ).withColumn("bucket", applier._bucket(F.col("key")))
            touched = [
                r["bucket"] for r in batch.select("bucket").distinct().collect()
            ]
            prior = applier.store.read(touched)
            bucket = applier._bucket(F.col("key"))
            if args.merge == "state_merge" and prior is not None:
                new_state = merge_state_with_batch(
                    prior.drop("bucket"), batch.drop("bucket"), "key",
                    plan=args.plan,
                ).withColumn("bucket", bucket)
            else:
                ev = batch
                if prior is not None:
                    ev = ev.unionByName(
                        applier._state_as_events(prior.drop("bucket"))
                        .withColumn("bucket", bucket)
                    )
                if args.plan == "array_fold":
                    ev = applier.store.cluster(ev, touched)
                new_state = apply_changes_with_tombstones_multi(
                    ev, "key", plan=args.plan, has_truncates=False,
                    bucket_col="bucket",
                )
            new_state = new_state.localCheckpoint(eager=True)
            phases["fold"].append(time.perf_counter() - t0)

            t0 = time.perf_counter()
            applier.store.commit(new_state, touched)
            phases["commit"].append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            applier.store.vacuum(retain_last=applier.retention)
            phases["vacuum"].append(time.perf_counter() - t0)
            print(
                f"# batch {b}: " + " ".join(
                    f"{k}={v[-1]:.2f}s" for k, v in phases.items()
                ),
                file=sys.stderr,
            )
        state_rows = (
            tstore.read().filter("values is not null").count()
            if args.store == "table"
            else applier.current_state().count()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)

    # steady-state medians over the post-warmup batches
    med = {
        k: round(statistics.median(v[2:] if len(v) > 4 else v), 3)
        for k, v in phases.items()
    }
    apply_total = med["decode"] + med["fold"] + med["commit"] + med["vacuum"]
    out = {
        "metric": "apply_ceiling_phase_profile",
        "fold_plan": args.plan,
        "merge_plan": args.merge,
        "store": args.store,
        "batch_events": args.batch,
        "batches": args.batches,
        "distinct_keys": args.keys,
        "n_buckets": args.buckets,
        "state_rows_final": int(state_rows),
        "phase_median_sec": med,
        "apply_cycle_sec": round(apply_total, 3),
        "implied_ceiling_eps": round(args.batch / apply_total, 0),
        "phase_share": {
            k: round(med[k] / apply_total, 3)
            for k in ("decode", "fold", "commit", "vacuum")
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
